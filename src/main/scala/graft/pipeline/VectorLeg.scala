package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col, lit}

/** One vector tier's top-k probe — the vector half of the store-backed
  * hybrid ([[Retrieval.storeHybrid]]), the operating point a recall
  * sweep scores ([[Retrieval.annRecallSweep]]), and the one way to run a
  * partition-pruned probe over a tier's index (an in-memory frame, or a
  * store view resolved at one committed batch). Every probe is the same
  * pipeline of [[Similarity]]'s shared steps; a case supplies only its
  * tier's scoring function:
  *
  *  1. cells — [[batch]] over a query frame `(vec_id, embedding)`
  *     resolves the union of the queries' probe cells with one
  *     query-sized job ([[Similarity.probeCells]]); [[scalar]] over one
  *     `(qid, vector)` resolves them driver-side
  *     ([[Similarity.probeCellsScalar]], bit-identical, zero jobs) and
  *     scores a one-row local query frame, so it runs fewer Spark
  *     actions;
  *  2. prune — [[Similarity.prune]]: the optional `allowed` mask (first
  *     column = allowed ids) semi-joins the index rows BEFORE the
  *     per-query rank window (FAISS-IDSelector semantics), and the
  *     literal cells become the store's partition filter;
  *  3. score — the tier's scorer over the pruned rows;
  *  4. tail — with `rerank = (rerankC, full-vector side table)`, the
  *     scorer ranks `rerankC` candidates and the exact cosine
  *     ([[Similarity.rerankExact]]) reranks them over the cell-pruned
  *     side table ([[Similarity.pruneVectors]]).
  *
  * Both probes emit `(qid, nid, rank)`.
  */
sealed trait VectorLeg {
  /** The tier's index, `(cell, nid, …)`. */
  def index: DataFrame
  def cents: Seq[(Long, Array[Double])]
  def nprobe: Int
  /** The optional exact tail: `(rerankC, full-vector side table)`, the
    * side table being `(id, embedding)` or a cell-carrying store view
    * whose refetch the probe cells prune. */
  def rerank: Option[(Int, DataFrame)]

  /** The tier's scoring function: the top-`n` `(qid, nid, rank, …)` of
    * the `pruned` index rows for every query in `queries`. */
  protected def score(queries: DataFrame, pruned: DataFrame,
                      n: Int): DataFrame

  def batch(queries: DataFrame, k: Int,
            allowed: Option[DataFrame] = None): DataFrame =
    probe(queries, Similarity.probeCells(queries, cents, nprobe), k,
      allowed)

  def scalar(qid: Long, vec: Seq[Double], k: Int,
             allowed: Option[DataFrame] = None): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    probe(Seq((qid, vec)).toDF("vec_id", "embedding"),
      Similarity.probeCellsScalar(vec, cents, nprobe), k, allowed)
  }

  /** `cells` is by-name, so a tail that cannot cover `k` fails before
    * the batch probe's cell-resolution job runs. */
  private def probe(queries: DataFrame, cells: => Seq[Long], k: Int,
                    allowed: Option[DataFrame]): DataFrame = {
    rerank.foreach { case (rerankC, _) =>
      require(rerankC >= k, s"rerankC ($rerankC) must cover k ($k): " +
        "the exact tail re-ranks only the scored candidates")
    }
    val resolved = cells
    serve(queries, Similarity.prune(index, resolved, allowed), resolved, k)
  }

  /** Score the pruned rows, through the exact tail when there is one. */
  protected def serve(queries: DataFrame, pruned: DataFrame,
                      cells: Seq[Long], k: Int): DataFrame =
    rerank.fold(score(queries, pruned, k)) { case (rerankC, vectors) =>
      Similarity.rerankExact(score(queries, pruned, rerankC), queries,
        Similarity.pruneVectors(vectors, cells), k)
    }
}

object VectorLeg {

  /** IVF over full vectors — `index` is `(cell, nid, ne)`. */
  final case class Ivf(index: DataFrame, cents: Seq[(Long, Array[Double])],
                       nprobe: Int) extends VectorLeg {
    def rerank: Option[(Int, DataFrame)] = None
    protected def score(queries: DataFrame, pruned: DataFrame,
                        n: Int): DataFrame =
      Similarity.ivfTopKIndexed(queries, pruned, cents, n, nprobe)
  }

  /** PQ codes (`(cell, nid, codes)`) ranked by ADC. The exact tail is
    * what the measured recall ledger says a code-store deployment
    * practically always wants (1M, uniform vectors: ADC 14 vs
    * rerank-100 28 per 100): the code store stays the ADC working set
    * (8 + m bytes/vector) and the full-vector bytes are touched only
    * probed-cell- and candidate-wise. A `rerankC` covering the probed
    * pool serves the [[Ivf]] answer exactly. */
  final case class Pq(index: DataFrame, cents: Seq[(Long, Array[Double])],
                      cbs: Array[Array[Array[Double]]], nprobe: Int,
                      rerank: Option[(Int, DataFrame)] = None)
      extends VectorLeg {
    protected def score(queries: DataFrame, pruned: DataFrame,
                        n: Int): DataFrame =
      Similarity.ivfPqTopKIndexed(queries, pruned, cents, cbs, n, nprobe)
  }

  /** Residual PQ codes (IVFADC, `(cell, nid, codes)` under the residual
    * codebooks `rcbs`) with the same optional tail as [[Pq]]. */
  final case class PqResidual(index: DataFrame,
                              cents: Seq[(Long, Array[Double])],
                              rcbs: Array[Array[Array[Double]]],
                              nprobe: Int,
                              rerank: Option[(Int, DataFrame)] = None)
      extends VectorLeg {
    protected def score(queries: DataFrame, pruned: DataFrame,
                        n: Int): DataFrame =
      Similarity.ivfPqResidualTopKIndexed(queries, pruned, cents, rcbs, n,
        nprobe)
  }

  /** SQ8 (int8 cosine, `(cell, nid, qv, …)`). The 1M uniform-vector
    * ledger measured SQ8 AT full-vector recall with no tail — but
    * uniform vectors are close to SQ8's BEST case (components share
    * magnitude, so absmax quantization wastes no range); on clustered or
    * heavy-tailed embeddings the int8 rounding CAN reorder a top-k near
    * the cut line, and the optional tail is the measured remedy (the
    * clustered-fixture ledger row in SCALING.md). */
  final case class Sq8(index: DataFrame, cents: Seq[(Long, Array[Double])],
                       nprobe: Int, rerank: Option[(Int, DataFrame)] = None)
      extends VectorLeg {
    protected def score(queries: DataFrame, pruned: DataFrame,
                        n: Int): DataFrame =
      Similarity.sq8TopKIndexed(queries, pruned, cents, n, nprobe)
  }

  /** SQ8 with the MARGIN ROUTER — spends full-vector bytes ONLY where
    * the int8 ranking is uncertain, instead of [[Sq8]]'s all-or-nothing
    * tail:
    *
    *  1. ONE pruned int8 probe ranks `rerankC` candidates per query (the
    *     same pass funds the margin decision and the tail's pool);
    *  2. per query, the margin `floor((sim@k − sim@(k+1)) · 1e6)`
    *     measures how close the cut line is: int8 rounding error is
    *     bounded, so a WIDE margin cannot be reordered by quantization,
    *     while a narrow one can;
    *  3. queries with margin < `marginPpm` route their `rerankC`
    *     candidates through the exact tail over `vectors`; confident
    *     queries — and a query with no k+1-th candidate (NULL margin)
    *     — serve the int8 top-k directly.
    *
    * marginPpm = 0 is the bare [[Sq8]] leg; marginPpm = ∞ is the full
    * tail; in between the refetch scales with the fixture's actual
    * uncertainty, read off [[Similarity.sq8CutMargins]]. The routing
    * rule is integer-exact and SQL-mirrorable. */
  final case class Sq8Adaptive(index: DataFrame,
                               cents: Seq[(Long, Array[Double])],
                               nprobe: Int, rerankC: Int, marginPpm: Long,
                               vectors: DataFrame) extends VectorLeg {
    def rerank: Option[(Int, DataFrame)] = Some((rerankC, vectors))
    /** `(qid, nid, sim, rank)`: the int8 ranking with its sims kept. */
    protected def score(queries: DataFrame, pruned: DataFrame,
                        n: Int): DataFrame =
      Similarity.sq8Scored(queries, pruned, cents, n, nprobe)
    override protected def serve(queries: DataFrame, pruned: DataFrame,
                                 cells: Seq[Long], k: Int): DataFrame = {
      val cand = score(queries, pruned, rerankC)
      val uncertain = Similarity.cutMargins(cand, k)
        .where(col("margin_ppm") < lit(marginPpm)).select("qid")
      val confident = cand.where(col("rank") <= k)
        .join(broadcast(uncertain), Seq("qid"), "left_anti")
        .select(col("qid"), col("nid"), col("rank").cast("long").as("rank"))
      val rerankedQs = queries.join(
        broadcast(uncertain.withColumnRenamed("qid", "vec_id")),
        Seq("vec_id"), "left_semi")
      val rerankedCand = cand
        .join(broadcast(uncertain), Seq("qid"), "left_semi")
      confident.unionByName(Similarity.rerankExact(rerankedCand,
        rerankedQs, Similarity.pruneVectors(vectors, cells), k))
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
      v => Pq(v(0), cents, cbs, nprobe, Some((rerankC, sideTable(v(1))))))

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
