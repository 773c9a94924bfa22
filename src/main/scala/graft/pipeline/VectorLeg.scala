package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** One vector tier's top-k probe — the vector half of the store-backed
  * hybrid ([[Retrieval.storeHybrid]]) and the operating point a recall
  * sweep scores ([[Retrieval.annRecallSweep]]). Each case holds the
  * tier's index frames (an in-memory index, or store views resolved at
  * one committed batch) and runs that tier's partition-pruned kernels
  * in [[Similarity]]. Both probes emit `(qid, nid, rank)` and take an
  * optional `allowed` mask (first column = allowed ids) that semi-joins
  * candidates before the per-query rank window (FAISS-IDSelector
  * semantics):
  *
  *  - [[batch]] over a query frame `(vec_id, embedding)` resolves the
  *    union of the queries' probe cells with one query-sized job;
  *  - [[scalar]] over one `(qid, vector)` resolves them driver-side
  *    ([[Similarity.probeCellsScalar]], bit-identical), so a call runs
  *    fewer Spark actions.
  */
sealed trait VectorLeg {
  def batch(queries: DataFrame, k: Int,
            allowed: Option[DataFrame] = None): DataFrame
  def scalar(qid: Long, vec: Seq[Double], k: Int,
             allowed: Option[DataFrame] = None): DataFrame
}

object VectorLeg {

  /** IVF over full vectors — `index` is `(cell, nid, ne)`. */
  final case class Ivf(index: DataFrame, cents: Seq[(Long, Array[Double])],
                       nprobe: Int) extends VectorLeg {
    def batch(queries: DataFrame, k: Int,
              allowed: Option[DataFrame]): DataFrame =
      Similarity.ivfTopKIndexedPruned(queries, index, cents, k, nprobe,
        allowed)
    def scalar(qid: Long, vec: Seq[Double], k: Int,
               allowed: Option[DataFrame]): DataFrame =
      Similarity.ivfTopKIndexedScalar(qid, vec, index, cents, k, nprobe,
        allowed)
  }

  /** PQ codes ranked by ADC, then the `rerankC` best per query
    * reranked exactly against the full-vector side table `vectors`
    * (`(id, embedding)`, or a cell-carrying store view whose refetch
    * the probe cells prune). A `rerankC` covering the probed pool
    * serves the [[Ivf]] answer exactly. */
  final case class Pq(codes: DataFrame, cents: Seq[(Long, Array[Double])],
                      cbs: Array[Array[Array[Double]]], nprobe: Int,
                      rerankC: Int, vectors: DataFrame) extends VectorLeg {
    def batch(queries: DataFrame, k: Int,
              allowed: Option[DataFrame]): DataFrame =
      Similarity.ivfPqTopKIndexedPrunedRerank(queries, codes, cents, cbs,
        k, nprobe, rerankC, vectors, allowed)
    def scalar(qid: Long, vec: Seq[Double], k: Int,
               allowed: Option[DataFrame]): DataFrame =
      Similarity.ivfPqTopKIndexedScalar(qid, vec, codes, cents, cbs, k,
        nprobe, rerank = Some((rerankC, vectors)), allowed = allowed)
  }

  /** SQ8 (int8 cosine); `rerank` = (rerankC, full-vector side table)
    * adds the optional exact tail on every query. */
  final case class Sq8(index: DataFrame, cents: Seq[(Long, Array[Double])],
                       nprobe: Int, rerank: Option[(Int, DataFrame)] = None)
      extends VectorLeg {
    def batch(queries: DataFrame, k: Int,
              allowed: Option[DataFrame]): DataFrame =
      Similarity.sq8TopKIndexedPruned(queries, index, cents, k, nprobe,
        allowed, rerank)
    def scalar(qid: Long, vec: Seq[Double], k: Int,
               allowed: Option[DataFrame]): DataFrame =
      Similarity.sq8TopKIndexedScalar(qid, vec, index, cents, k, nprobe,
        allowed, rerank)
  }

  /** SQ8 with the margin router: only queries whose int8 cut-line
    * margin is under `marginPpm` take the exact tail over `vectors`
    * ([[Similarity.sq8TopKIndexedAdaptiveRerank]]). marginPpm = 0 is
    * the bare [[Sq8]] leg. The tier has no scalar kernel, so the scalar
    * probe runs the batch probe over a one-row local query frame. */
  final case class Sq8Adaptive(index: DataFrame,
                               cents: Seq[(Long, Array[Double])],
                               nprobe: Int, rerankC: Int, marginPpm: Long,
                               vectors: DataFrame) extends VectorLeg {
    def batch(queries: DataFrame, k: Int,
              allowed: Option[DataFrame]): DataFrame =
      Similarity.sq8TopKIndexedAdaptiveRerank(queries, index, cents, k,
        nprobe, rerankC, marginPpm, vectors, allowed)
    def scalar(qid: Long, vec: Seq[Double], k: Int,
               allowed: Option[DataFrame]): DataFrame = {
      val spark = index.sparkSession
      import spark.implicits._
      batch(Seq((qid, vec)).toDF("vec_id", "embedding"), k, allowed)
    }
  }

  /** A leg served from tailer-maintained stores
    * ([[graft.streaming.IndexMaintenanceStream]] layouts): `stores` are
    * resolved by [[Retrieval.storeHybrid]] at the same committed batch
    * as the lexical store, and their views, in order, build the leg. */
  final case class Stored(stores: Seq[(Maintenance.Door, String)],
                          at: Seq[DataFrame] => VectorLeg)

  def ivfStore(door: Maintenance.Door, dir: String,
               cents: Seq[(Long, Array[Double])], nprobe: Int): Stored =
    Stored(Seq(door -> dir), v => Ivf(v.head, cents, nprobe))

  /** The code-store tier: PQ codes under `pqDir`, the exact tail
    * refetching from the full-vector store under `vecDir`, both at the
    * lexical store's batch, so the ADC stage and its refetch never mix
    * corpus versions. */
  def pqStore(pqDoor: Maintenance.Door, pqDir: String,
              cents: Seq[(Long, Array[Double])],
              cbs: Array[Array[Array[Double]]],
              vecDoor: Maintenance.Door, vecDir: String,
              nprobe: Int, rerankC: Int): Stored =
    Stored(Seq(pqDoor -> pqDir, vecDoor -> vecDir),
      v => Pq(v(0), cents, cbs, nprobe, rerankC, sideTable(v(1))))

  def sq8Store(door: Maintenance.Door, dir: String,
               cents: Seq[(Long, Array[Double])], nprobe: Int): Stored =
    Stored(Seq(door -> dir), v => Sq8(v.head, cents, nprobe))

  def sq8AdaptiveStore(sq8Door: Maintenance.Door, sq8Dir: String,
                       cents: Seq[(Long, Array[Double])],
                       vecDoor: Maintenance.Door, vecDir: String,
                       nprobe: Int, rerankC: Int, marginPpm: Long): Stored =
    Stored(Seq(sq8Door -> sq8Dir, vecDoor -> vecDir),
      v => Sq8Adaptive(v(0), cents, nprobe, rerankC, marginPpm,
        sideTable(v(1))))

  /** The full-vector store view shaped as the exact tail's side table.
    * The cell column rides along: the tail pushes its literal
    * probe-cell filter into the refetch scan too (both stores assign
    * under the same frozen quantizer, so every candidate's current
    * vector lives in a probed cell). */
  private def sideTable(view: DataFrame): DataFrame =
    view.select(col("cell"), col("nid"), col("ne"))
}
