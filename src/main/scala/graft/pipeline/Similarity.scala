package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small) query
  *    set against the corpus; one scan, no shuffle of the corpus. The
  *    baseline and the verifier for the approximate path.
  *  - [[lshTopK]]: random-hyperplane LSH — corpus hashed once into sign
  *    buckets; queries probe only their bucket. The 100 TB path: candidate
  *    generation is a bucket join (shuffle on bucket id), never all-pairs.
  *
  * All vector math is Catalyst `zip_with`/`aggregate` in double precision —
  * codegen'd, no UDF.
  */
object Similarity {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0),
      (acc, v) => acc + v.cast("double") * v.cast("double")))

  /** Native codegen'd expression (see [[graft.functions.CosineSimilarity]]);
    * [[cosineHof]] is the composable higher-order-function formulation —
    * same bit-exact result, interpreted (kept as the reference
    * implementation / fallback). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity.cosine_similarity(a, b)

  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** The per-query rank window every top-k shares: rows of `scored`
    * ranked by `sim desc, nid asc` within their `qid` (deterministic
    * tiebreak on neighbor id), cut at `rank ≤ n`; `scored`'s columns
    * ride along. */
  private def ranked(scored: DataFrame, n: Int): DataFrame =
    scored.withColumn("rank", row_number().over(Window
      .partitionBy(col("qid")).orderBy(col("sim").desc, col("nid").asc)))
      .where(col("rank") <= n)

  /** [[ranked]] projected to the top-k output `(qid, nid, rank)`. */
  private def topK(scored: DataFrame, n: Int): DataFrame =
    ranked(scored, n)
      .select(col("qid"), col("nid"), col("rank").cast("long").as("rank"))

  /** Exact top-k neighbors for each query vector (queries ≪ corpus).
    * Output: (qid, nid, rank). Deterministic tiebreak on neighbor id. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("qid"),
      col("embedding").as("qe")))
    val c = corpus.select(col("vec_id").as("nid"), col("embedding").as("ne"))
    topK(c.crossJoin(q)
      .where(col("qid") =!= col("nid"))
      .withColumn("sim", cosine(col("qe"), col("ne"))), k)
  }

  /** Sign-bucket id from `planes` deterministic hyperplanes — the single-
    * band case of [[graft.functions.LshBuckets]]: integer-exact arithmetic
    * (SQL-mirrorable for oracles), compiled loop instead of the interpreted
    * `aggregate(zip_with(…))` higher-order functions. */
  def lshBucket(e: Column, planes: Int): Column =
    element_at(graft.functions.LshBuckets.lsh_buckets(e, planes, 1), 1)

  /** Approximate top-k: hash corpus + queries into banded hyperplane sign
    * buckets, compare only where some band's bucket collides. `planes`
    * bounds within-bucket join size (2^planes buckets/band — scale with
    * corpus size); `bands` amplifies recall MinHash-style (any-band match).
    * Candidates are deduped before scoring so multi-band hits cost one
    * cosine. Measure recall with the paired `*_recall` query vs
    * [[bruteForceTopK]]. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              planes: Int = 8, bands: Int = 1): DataFrame = {
    val bucketsOf = (e: Column) =>
      explode(graft.functions.LshBuckets.lsh_buckets(e, planes, bands))
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qe"),
      bucketsOf(col("embedding")).as("bucket"))
    val c = corpus.select(col("vec_id").as("nid"), col("embedding").as("ne"),
      bucketsOf(col("embedding")).as("bucket"))
    topK(c.join(broadcast(q), Seq("bucket"))
      .where(col("qid") =!= col("nid"))
      .dropDuplicates("qid", "nid")
      .withColumn("sim", cosine(col("qe"), col("ne"))), k)
  }

  /** IVF (inverted-file) approximate search — the other scale path besides
    * hyperplane LSH. Coarse quantization: `nlist` centroids chosen
    * deterministically (the first `nlist` corpus vectors by id — a k-means
    * iteration can refine them later without changing the query plan).
    *
    * The centroid table is collected once at index-build time (nlist ≪
    * corpus; standard IVF training shape) and embedded in a
    * [[graft.functions.NearestCentroids]] expression, so cell assignment is
    * a single projection over the corpus scan — NO Exchange between the
    * scan and the cell id. The previous crossJoin + row_number formulation
    * shuffled N×nlist rows for the same argmax. Queries probe the `nprobe`
    * nearest cells; candidate generation is a bucket join on cell id —
    * never all-pairs; the probe factor bounds the scanned fraction at
    * ~nprobe/nlist of the corpus. */
  def centroids(corpus: DataFrame, nlist: Int): Seq[(Long, Array[Double])] =
    corpus.orderBy(col("vec_id").asc).limit(nlist)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map { r =>
        val arr = r.getSeq[Any](1).map {
          case f: Float => f.toDouble
          case d: Double => d
        }.toArray
        r.getLong(0) -> arr
      }.toSeq

  /** Corpus with its IVF cell id — one shuffle-free projection. */
  def ivfAssign(corpus: DataFrame, cents: Seq[(Long, Array[Double])]): DataFrame =
    corpus.select(
      element_at(graft.functions.NearestCentroids.nearest_centroids(
        col("embedding"), cents, 1), 1).as("cell"),
      col("vec_id").as("nid"), col("embedding").as("ne"))

  /** Lloyd (k-means) refinement of the IVF coarse quantizer: re-assign
    * every corpus vector to its nearest centroid (shuffle-free projection),
    * recompute each cell's mean, repeat. Per iteration: one posexplode +
    * one (cell, dim)-keyed aggregation whose partial agg collapses map-side
    * to nlist×dim rows — the shuffle is centroid-sized, not corpus-sized.
    *
    * Updates are QUANTIZED (component = ⌊Σ⌊v·2²⁰⌋ / n⌋ / 2²⁰, floor
    * division): integer sums are order-independent, so refined centroids
    * are deterministic and exactly reproducible in SQL for the oracle —
    * the ~1e-6 quantization error is far below k-means' own tolerance.
    * Cells that lose all members keep their previous centroid. */
  def kmeansRefine(corpus: DataFrame,
                   init: Seq[(Long, Array[Double])],
                   iters: Int): Seq[(Long, Array[Double])] = {
    var cents = init
    for (_ <- 1 to iters) {
      val upd = ivfAssign(corpus, cents)
        .select(col("cell"), posexplode(col("ne")))
        .select(col("cell"), col("pos"),
          floor(col("col").cast("double") * 1048576.0).cast("long").as("vq"))
        .groupBy("cell", "pos")
        .agg(sum("vq").as("s"), count(lit(1)).as("n"))
        .collect()
        .groupBy(_.getLong(0))
      cents = cents.map { case (cid, old) =>
        upd.get(cid) match {
          case Some(rows) =>
            val arr = old.clone()
            rows.foreach { r =>
              arr(r.getInt(1)) =
                Math.floorDiv(r.getLong(2), r.getLong(3)).toDouble / 1048576.0
            }
            cid -> arr
          case None => cid -> old
        }
      }
    }
    cents
  }

  /** IVF top-k over k-means-refined centroids. */
  def ivfKmeansTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                    nlist: Int, nprobe: Int, iters: Int): DataFrame = {
    val refined = kmeansRefine(corpus, centroids(corpus, nlist), iters)
    val assigned = ivfAssign(corpus, refined)
    val probes = queries
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        explode(graft.functions.NearestCentroids.nearest_centroids(
          col("embedding"), refined, nprobe)).as("cell"))
      .select(col("cell"), col("qid"), col("qe"))
    topK(assigned.join(broadcast(probes), Seq("cell"))
      .where(col("qid") =!= col("nid"))
      .withColumn("sim", cosine(col("qe"), col("ne"))), k)
  }

  /** IVF top-k: probe the `nprobe` nearest cells per query. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val cents = centroids(corpus, nlist)
    ivfTopKIndexed(queries, ivfAssign(corpus, cents), cents, k, nprobe)
  }

  /** [[ivfTopK]] over a PREBUILT index (`(cell, nid, ne)` — what
    * [[ivfAssign]] emits and [[ivfAddToIndex]] maintains): search is
    * decoupled from index construction, so a 100 TB deployment builds
    * the index once, persists it partitioned by cell, and every query
    * batch probes it without re-assigning the corpus.
    *
    * The cosine needs one element type on both sides: when the query
    * embedding and the index's `ne` differ (a `Seq[Double]` query frame
    * or scalar query against a float-stored index), both widen to
    * double — exact, so the scores are bit-identical to the float/float
    * probe's. The cast is a projection above any cell filter on
    * `index`, paid only on the probed rows. */
  def ivfTopKIndexed(queries: DataFrame, index: DataFrame,
                     cents: Seq[(Long, Array[Double])], k: Int,
                     nprobe: Int = 4): DataFrame = {
    val widen = elementType(queries, "embedding") != elementType(index, "ne")
    def wide(c: Column): Column = if (widen) c.cast("array<double>") else c
    val probes = queries
      .select(col("vec_id").as("qid"), wide(col("embedding")).as("qe"),
        explode(graft.functions.NearestCentroids.nearest_centroids(
          col("embedding"), cents, nprobe)).as("cell"))
      .select(col("cell"), col("qid"), col("qe"))
    val ix = if (widen) index.withColumn("ne", wide(col("ne"))) else index
    topK(ix.join(broadcast(probes), Seq("cell"))
      .where(col("qid") =!= col("nid"))
      .withColumn("sim", cosine(col("qe"), col("ne"))), k)
  }

  private def elementType(df: DataFrame, c: String) =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.ArrayType(t, _) => t
      case t => t
    }

  /** Incremental index maintenance: assign a NEW vector batch against
    * the index's FROZEN coarse quantizer and append — the ANN twin of
    * `Dedup.addToIndex`. Cost is O(delta): one shuffle-free projection
    * over the new batch (the native nearest-centroid expression), and
    * because the cell id is the index's partition key, the append lands
    * as per-cell file adds — existing postings are never read, moved,
    * or reshuffled. Search over the grown index is EXACTLY a full
    * rebuild under the same quantizer (assignment is per-row and
    * centroids are frozen), which is what the `ann_ivf_incremental`
    * oracle pins; re-seeding the quantizer (after drift accumulates —
    * watch it with `profile_corpus_drift` over cell occupancies) is the
    * scheduled-rebuild path, like the census rebase cadence. */
  def ivfAddToIndex(index: DataFrame, newVecs: DataFrame,
                    cents: Seq[(Long, Array[Double])]): DataFrame =
    index.unionByName(ivfAssign(newVecs, cents))

  /** The DELETE door for the serving index: tombstones (a frame of
    * `nid`s) filtered out of the postings. Two uses, one operator:
    *
    *  - PROBE time: pass the filtered frame to [[ivfTopKIndexed]] —
    *    the tombstone set broadcasts and the anti-join runs above the
    *    cell pruning (Catalyst pushes the probe's cell filter through
    *    the anti-join's left side), so a query pays
    *    |tombstones|-broadcast × pruned-cells, never a corpus scan;
    *  - COMPACTION: materialize the filtered frame back to the
    *    partitioned store (per-cell rewrite) and drop the tombstone
    *    table — the scheduled physical cleanup once tombstones
    *    accumulate past the broadcast-comfortable size, which
    *    [[Dedup.compactNeeded]] watches on every delete tick.
    *
    * Deleting ids then searching is EXACTLY a rebuild on the surviving
    * set under the same frozen quantizer (assignment is per-row), which
    * the `ann_ivf_delete` oracle pins; an UPDATE is delete +
    * [[ivfAddToIndex]] of the new vectors. */
  def ivfApplyTombstones(index: DataFrame, tombstones: DataFrame): DataFrame =
    index.join(broadcast(tombstones.select(col("nid"))), Seq("nid"),
      "left_anti")

  // ---- generation-versioned index rows: UPDATE on a PERSISTED store.
  // Same design as `Bm25Index.stampGen`/`applyGenTombstones` and for
  // the same reason: a plain nid tombstone would swallow a re-used id's
  // freshly appended cell rows, forcing a per-update rewrite. Stamp
  // each appended batch, tombstone the id up to the superseded
  // generation, and the probe filter keeps rows newer than their id's
  // tombstone — update = O(delta) assign + append under the frozen
  // quantizer, search ≡ rebuild on the updated corpus (the
  // `ann_ivf_update` oracle pins it). The anti-join stays a broadcast
  // hash join on the nid equi-key (the gen bound is a join condition).

  def ivfStampGen(index: DataFrame, gen: Long): DataFrame =
    index.withColumn("gen", lit(gen))

  def ivfGenTombstones(ids: DataFrame, idCol: Column,
                       uptoGen: Long): DataFrame =
    ids.select(idCol.as("nid"), lit(uptoGen).as("upto_gen"))

  def ivfApplyGenTombstones(index: DataFrame,
                            tombstones: DataFrame): DataFrame = {
    val t = broadcast(tombstones
      .select(col("nid").as("__t_nid"), col("upto_gen")))
    index.join(t,
      index("nid") === col("__t_nid") &&
        index("gen") <= col("upto_gen"), "left_anti")
  }

  // ---- the shared steps of every partition-pruned probe
  // ([[VectorLeg]]): resolve the probe cells to literals, prune the
  // index by them (and by the metadata mask), score, optionally rerank
  // exactly over the cell-pruned full vectors.

  /** Resolve a query batch's probe cells to LITERALS — the one
    * query-sized job a batch probe pays, running the SAME
    * `nearest_centroids` expression as every indexed scorer, so cell
    * choice is bit-identical. Queries must be a bounded serving batch:
    * the resolution collects |queries|×nprobe longs. */
  private[pipeline] def probeCells(queries: DataFrame,
                                   cents: Seq[(Long, Array[Double])],
                                   nprobe: Int): Seq[Long] =
    queries.select(explode(
      graft.functions.NearestCentroids.nearest_centroids(
        col("embedding"), cents, nprobe)).as("cell"))
      .distinct().collect().map(_.getLong(0)).toSeq

  /** Probe-cell resolution for a SCALAR query vector, DRIVER-SIDE:
    * runs the SAME compiled `nearest` loop the
    * [[graft.functions.NearestCentroids]] expression executes (so cell
    * choice is bit-identical to every indexed probe), with zero Spark
    * jobs — the scalar twin of [[probeCells]]. */
  def probeCellsScalar(vec: Seq[Double],
                       cents: Seq[(Long, Array[Double])],
                       nprobe: Int): Seq[Long] = {
    val sorted = cents.sortBy(_._1)
    val expr = graft.functions.NearestCentroids(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        vec, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      sorted.map(_._1).toArray, sorted.map(_._2).toArray, nprobe)
    expr.nearest(new org.apache.spark.sql.catalyst.util.GenericArrayData(
      vec.toArray)).toLongArray().toSeq
  }

  /** The METADATA FILTER, FAISS-IDSelector semantics: `allowed` (first
    * column = allowed vector ids) semi-joins the index rows, so a probe
    * over the result ranks the true filtered top-k (a post-k filter
    * would under-fill k). Cell assignment and similarity are per-row —
    * filtering a vector out never changes another vector's cell or
    * score — so a masked probe ≡ a probe over an index built from only
    * the allowed vectors under the same frozen quantizer. */
  private[pipeline] def mask(index: DataFrame,
                             allowed: Option[DataFrame]): DataFrame =
    allowed.fold(index)(a => index.join(
      a.select(col(a.columns.head).as("nid")), Seq("nid"), "left_semi"))

  /** The PARTITION PRUNE over a persisted cell-partitioned store — the
    * `Bm25Index.search` bucket-pruning twin. Joining the store on `cell`
    * against a broadcast probe frame (the in-memory scorers' plan) reads
    * EVERY cell partition of a parquet store: a runtime join key is not
    * a partition filter, and DPP declines the shape (the probe side
    * carries no selective predicate). The literal `cell isin` predicate
    * here constant-folds into the file index's partition filter, so the
    * scan reads ≤ |queries|×nprobe of the nlist partitions; it pushes
    * through the [[mask]] semi-join, so the mask costs pruned-cells ⋈
    * allowed, never a corpus scan. A scorer over the pruned rows ≡ the
    * scorer over the whole index (the literal set IS the join's key
    * set; spec-pinned). */
  private[pipeline] def prune(index: DataFrame, cells: Seq[Long],
                              allowed: Option[DataFrame]): DataFrame =
    mask(index, allowed).where(col("cell").isin(cells: _*))

  /** The exact tail's full-vector side, cell-pruned when possible: a
    * side table carrying a `cell` column (the cell-partitioned
    * full-vector store's live view, with `nid`/`ne` — assigned under
    * the SAME frozen quantizer) takes the probe's literal cell filter,
    * because every candidate's current vector lives in a probed cell
    * by construction — the refetch then reads ≤ the same nprobe/nlist
    * fraction of the full-vector store the scored scan reads of its
    * store, instead of a full pass (measured at 1M: the unpruned
    * refetch WAS the sweep's record floor). A plain `(id, embedding)`
    * table (the kept corpus parquet) passes through unpruned. */
  private[pipeline] def pruneVectors(vectors: DataFrame,
                                     cells: Seq[Long]): DataFrame =
    if (vectors.columns.contains("cell"))
      vectors.where(col("cell").isin(cells: _*))
        .select(col("nid"), col("ne"))
    else vectors

  /** The one-call UPDATE door, `Bm25Index.update`'s ANN twin: assign the
    * replacement vectors under the FROZEN quantizer, stamp them with
    * `newGen`, and retire every older generation of their ids — returns
    * `(indexDelta, tombstones)`; append the delta to the store, union the
    * tombstones into the serving set, probe through
    * [[ivfApplyGenTombstones]]. O(delta): one shuffle-free assign
    * projection plus a tombstone projection — the persisted cells are
    * never read. Unlike BM25 there is no stats frame and the superseded
    * VECTORS are not needed, only their ids (they are the new batch's
    * own ids). `newGen` must exceed every generation the updated ids
    * currently carry.
    *
    * Retry guard, same contract as `Bm25Index.update`: pass the CURRENT
    * unified tombstone table (`(nid, upto_gen)`; full deletes carry
    * `upto_gen = Long.MaxValue`) and a re-sent batch is dropped whole —
    * any id whose prior tombstone already reaches `newGen - 1` would
    * otherwise append a second copy of its gen-`newGen` cell row and
    * surface duplicate probe candidates. */
  def ivfUpdate(newVecs: DataFrame, cents: Seq[(Long, Array[Double])],
                newGen: Long,
                priorTombstones: Option[DataFrame] = None)
      : (DataFrame, DataFrame) = {
    val fresh = priorTombstones match {
      case Some(prior) =>
        val done = broadcast(
          prior.where(col("upto_gen") >= lit(newGen - 1))
            .select(col("nid").as("__t_nid")))
        newVecs.join(done, col("vec_id") === col("__t_nid"), "left_anti")
      case None => newVecs
    }
    (ivfStampGen(ivfAssign(fresh, cents), newGen),
      ivfGenTombstones(fresh.select(col("vec_id").as("nid")), col("nid"),
        newGen - 1))
  }

  // ---- product quantization (PQ / IVFPQ) ----

  /** Per-subspace PQ codebooks seeded from the first `ksub` corpus vectors
    * by id — the same deterministic seeding as [[centroids]]; a per-subspace
    * k-means refinement can replace the seeds later without changing the
    * query plan. `codebooks(s)(c)` = seed `c`'s dims `[s·d/m, (s+1)·d/m)`. */
  def pqCodebooks(corpus: DataFrame, m: Int, ksub: Int): Array[Array[Array[Double]]] = {
    val seeds = corpus.orderBy(col("vec_id").asc).limit(ksub)
      .select(col("embedding")).collect()
      .map(_.getSeq[Any](0).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray)
    pqCodebooksFromSeeds(seeds, m)
  }

  /** [[pqCodebooks]] from ALREADY-collected seed vectors — the same
    * slicing with no Spark job. A caller that has run
    * `centroids(corpus, ksub)` already holds exactly the first-`ksub`
    * vectors the seed collect would fetch (same order-by-id prefix), so
    * deriving the codebooks from them saves one collect job per trained
    * fixture without changing a single table value. */
  def pqCodebooksFromSeeds(seeds: Array[Array[Double]], m: Int)
      : Array[Array[Array[Double]]] = {
    val subDim = seeds(0).length / m
    Array.tabulate(m) { s =>
      seeds.map(v => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
    }
  }

  /** Corpus compressed to PQ codes — ONE shuffle-free projection (the
    * codebooks ride inside the codegen'd [[graft.functions.PqCodes]]
    * expression). (vec_id, m codes) is what a 100 TB serving index stores:
    * 32× smaller than the float vectors at m=8. */
  def pqEncode(corpus: DataFrame, cbs: Array[Array[Array[Double]]]): DataFrame =
    corpus.select(col("vec_id").as("nid"),
      graft.functions.PqCodes.pq_codes(col("embedding"), cbs).as("codes"))

  /** Lloyd refinement of the PQ codebooks — the standard PQ TRAINING step
    * (k-means per subspace over the corpus's subvectors): re-encode the
    * corpus (one shuffle-free [[graft.functions.PqCodes]] projection),
    * recompute every (subspace, code) entry as the mean of its assigned
    * subvectors, repeat. Per iteration the update aggregation collapses
    * map-side to m × ksub × subDim rows (codebook-sized, not
    * corpus-sized — the IVF [[kmeansRefine]] argument, per subspace).
    *
    * Updates are QUANTIZED exactly like [[kmeansRefine]] (floor-division
    * of ⌊v·2²⁰⌋ sums): deterministic, order-independent, reproducible in
    * SQL — so the trained index is oracle-checkable end to end. Entries
    * that lose all members keep their previous value. */
  def pqRefineCodebooks(corpus: DataFrame, init: Array[Array[Array[Double]]],
                        iters: Int): Array[Array[Array[Double]]] = {
    val m = init.length
    val subDim = init(0)(0).length
    var cbs = init
    for (_ <- 1 to iters) {
      val upd = corpus
        .select(graft.functions.PqCodes.pq_codes(col("embedding"), cbs).as("codes"),
          posexplode(col("embedding")))
        .select(
          (col("pos") / subDim).cast("int").as("sub"),
          element_at(col("codes"), (col("pos") / subDim).cast("int") + 1).as("code"),
          pmod(col("pos"), lit(subDim)).cast("int").as("j"),
          floor(col("col").cast("double") * 1048576.0).cast("long").as("vq"))
        .groupBy("sub", "code", "j")
        .agg(sum("vq").as("s"), count(lit(1)).as("n"))
        .collect()
        .groupBy(r => (r.getInt(0), r.getLong(1)))
      cbs = Array.tabulate(m) { s =>
        Array.tabulate(cbs(s).length) { c =>
          upd.get((s, c.toLong)) match {
            case Some(rows) =>
              val e = cbs(s)(c).clone()
              rows.foreach { r =>
                e(r.getInt(2)) =
                  Math.floorDiv(r.getLong(3), r.getLong(4)).toDouble / 1048576.0
              }
              e
            case None => cbs(s)(c)
          }
        }
      }
    }
    cbs
  }

  /** PQ top-k over Lloyd-trained codebooks. */
  def pqTrainedTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                    m: Int = 8, ksub: Int = 16, iters: Int = 1): DataFrame = {
    val cbs = pqRefineCodebooks(corpus, pqCodebooks(corpus, m, ksub), iters)
    adcTopK(
      pqEncode(corpus, cbs).crossJoin(broadcast(pqQueryLut(queries, cbs))),
      cbs, k)
  }

  /** Per-query ADC lookup tables: for each (subspace, code), the dot of the
    * query's subvector with that codebook entry, plus the query norm — all
    * folds left-to-right in index order so the oracle mirrors them
    * bit-for-bit. Queries ≪ corpus (the broadcast side). */
  private def pqQueryLut(queries: DataFrame, cbs: Array[Array[Array[Double]]]): DataFrame = {
    val m = cbs.length
    val subDim = cbs(0)(0).length
    val spark = queries.sparkSession
    import spark.implicits._
    val rows = queries.select(col("vec_id"), col("embedding")).collect().map { r =>
      val qid = r.get(0) match { case l: Long => l; case i: Int => i.toLong }
      val v = r.getSeq[Any](1).map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray
      var nq = 0.0
      var i = 0
      while (i < v.length) { nq += v(i) * v(i); i += 1 }
      val lut = Seq.tabulate(m) { s =>
        cbs(s).toSeq.map { e =>
          var d = 0.0
          var j = 0
          while (j < e.length) { d += v(s * subDim + j) * e(j); j += 1 }
          d
        }
      }
      (qid, lut, math.sqrt(nq))
    }.toSeq
    spark.createDataset(rows).toDF("qid", "lut", "qnorm")
  }

  /** ADC scoring + top-k: approx cosine = Σ_sub lut[sub][code] /
    * (‖q‖ · √Σ_sub ‖entry[sub][code]‖²) — LUT lookups per corpus row
    * instead of a full d-dim dot; the only shuffle is the per-query
    * top-k window over (qid, nid, sim) rows. */
  private def adcTopK(cand: DataFrame, cbs: Array[Array[Array[Double]]],
                      k: Int): DataFrame = {
    val m = cbs.length
    val cbSq: Array[Array[Double]] = cbs.map(_.map { e =>
      var s = 0.0
      var i = 0
      while (i < e.length) { s += e(i) * e(i); i += 1 }
      s
    })
    val cbSqCol = array(cbSq.map(sub => array(sub.map(lit).toIndexedSeq: _*)).toIndexedSeq: _*)
    val lutAt = (arr: Column, s: Column) =>
      element_at(element_at(arr, (s + 1).cast("int")),
        (element_at(col("codes"), (s + 1).cast("int")) + 1).cast("int"))
    topK(cand
      .where(col("qid") =!= col("nid"))
      .withColumn("__dot", aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
        (acc, s) => acc + lutAt(col("lut"), s)))
      .withColumn("__rsq", aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
        (acc, s) => acc + lutAt(cbSqCol, s)))
      .withColumn("sim", col("__dot") / (col("qnorm") * sqrt(col("__rsq")))),
      k)
  }

  /** PQ top-k (flat scan): encode the corpus once, score every vector via
    * per-query ADC lookup tables. Same scan shape as [[bruteForceTopK]] but
    * each row costs m table lookups instead of a d-dim dot, over an index
    * 32× smaller — the memory-bound regime PQ exists for. */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
             m: Int = 8, ksub: Int = 16): DataFrame = {
    val cbs = pqCodebooks(corpus, m, ksub)
    adcTopK(
      pqEncode(corpus, cbs).crossJoin(broadcast(pqQueryLut(queries, cbs))),
      cbs, k)
  }

  /** Corpus → `(cell, nid, codes)` in ONE shuffle-free projection —
    * the PQ-CODE serving index a billion-vector deployment persists
    * partitioned by cell: corpus × (8 + m) bytes instead of the full
    * float vectors (~32× smaller at m=8/d=64·f32), the memory-bounded
    * regime PQ exists for. Both quantizers are FROZEN arguments (the
    * coarse centroids and the PQ codebooks ride inside the codegen'd
    * expressions), so incremental maintenance is per-row: a new batch
    * assigns and encodes under the same tables and appends —
    * [[Maintenance.IvfPqDoor]]'s contract, the code-index twin of
    * [[ivfAssign]]/[[ivfAddToIndex]]. */
  def ivfPqAssign(corpus: DataFrame, cents: Seq[(Long, Array[Double])],
                  cbs: Array[Array[Array[Double]]]): DataFrame =
    corpus.select(
      element_at(graft.functions.NearestCentroids.nearest_centroids(
        col("embedding"), cents, 1), 1).as("cell"),
      col("vec_id").as("nid"),
      graft.functions.PqCodes.pq_codes(col("embedding"), cbs).as("codes"))

  /** ADC top-k over a PREBUILT code index (`(cell, nid, codes)` — what
    * [[ivfPqAssign]] emits): queries probe `nprobe` cells, the
    * broadcast probe frame carries each query's per-(sub, code) LUT,
    * and every candidate row costs m table lookups — never a d-dim
    * dot, never the float vectors. Search ≡ [[ivfPqTopK]] under the
    * same frozen tables (it delegates here). */
  def ivfPqTopKIndexed(queries: DataFrame, index: DataFrame,
                       cents: Seq[(Long, Array[Double])],
                       cbs: Array[Array[Array[Double]]],
                       k: Int, nprobe: Int): DataFrame = {
    val probes = queries.select(col("vec_id").as("qid"),
      explode(graft.functions.NearestCentroids.nearest_centroids(
        col("embedding"), cents, nprobe)).as("cell"))
      .join(pqQueryLut(queries, cbs), "qid")
    adcTopK(index.join(broadcast(probes), Seq("cell")), cbs, k)
  }

  /** IVFPQ — the production billion-vector shape (FAISS `IVFx,PQy`): coarse
    * IVF cell + PQ codes computed in ONE shuffle-free projection over the
    * corpus scan (both code tables ride inside codegen'd expressions);
    * queries probe `nprobe` cells and ADC-score only those cells' codes.
    * Scanned fraction ≈ nprobe/nlist, per-row cost m lookups, index size
    * corpus × (8 + m) bytes. This variant encodes raw vectors (not
    * cell residuals) — the standard simplification; residual encoding
    * needs per-cell LUTs and buys accuracy at 2× LUT-build cost. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                nlist: Int, nprobe: Int, m: Int = 8, ksub: Int = 16): DataFrame = {
    val cents = centroids(corpus, nlist)
    val cbs = pqCodebooks(corpus, m, ksub)
    ivfPqTopKIndexed(queries, ivfPqAssign(corpus, cents, cbs), cents,
      cbs, k, nprobe)
  }

  /** IVFPQ with an EXACT re-rank tail — the complete production retrieval
    * chain (FAISS `index.search` with a refine/rerank stage): ADC ranks
    * `rerankC` candidates per query from the compressed code table, then
    * only those `queries × rerankC` rows fetch their full vectors for an
    * exact cosine top-k. Fixes ADC quantization-ordering errors near the
    * cut line at the cost of one bounded join.
    *
    * 100 TB shape: the candidate table is O(queries · rerankC) — tiny —
    * and is BROADCAST against the corpus scan, so the full-vector fetch
    * is a scan-side semi-join with no corpus shuffle; the final window
    * shuffles only the candidate rows. */
  def ivfPqRerankTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                      rerankC: Int, nlist: Int, nprobe: Int,
                      m: Int = 8, ksub: Int = 16): DataFrame =
    rerankExact(
      ivfPqTopK(queries, corpus, rerankC, nlist, nprobe, m, ksub),
      queries, corpus.select(col("vec_id"), col("embedding")), k)

  /** The exact-cosine re-rank TAIL shared by every tier with one
    * ([[VectorLeg]]'s PQ and SQ8 cases, [[ivfPqRerankTopK]]): the
    * scored stage's `(qid, nid)` candidates — queries × rerankC rows, tiny
    * by construction — BROADCAST against the full-vector side `vectors`
    * (first column = id, second = embedding: the kept corpus parquet or
    * a maintained full-vector store's live view), refetch exactly those
    * vectors, score the true cosine, keep the top-k. Both sides widen
    * float→double (exact), so reranked scores are bit-identical to the
    * full-vector probes' — when rerankC covers the whole probed
    * candidate pool the tail IS the full-vector probe (spec-pinned).
    * No corpus shuffle: the refetch is a scan-side broadcast semi-join;
    * the final window shuffles only the candidate rows. */
  private[pipeline] def rerankExact(cand: DataFrame, queries: DataFrame,
                                    vectors: DataFrame, k: Int): DataFrame = {
    val vecs = vectors.select(
      col(vectors.columns(0)).as("nid"),
      col(vectors.columns(1)).cast("array<double>").as("nvec"))
    topK(vecs
      .join(broadcast(cand.select(col("qid"), col("nid"))), Seq("nid"))
      .join(broadcast(queries.select(col("vec_id").as("qid"),
        col("embedding").cast("array<double>").as("qvec"))), Seq("qid"))
      .withColumn("sim", cosine(col("qvec"), col("nvec"))), k)
  }

  /** Residual PQ codebooks (the IVFADC construction, Jégou et al. 2011
    * §IV-A): seeded from the residuals `v − centroid(cell(v))` of the first
    * `ksub` corpus vectors, under the ENGINE's own cell assignment (the
    * same codegen'd argmax the index build uses), so encoding and seeding
    * agree bit-for-bit. Residuals concentrate near 0 regardless of where
    * the cell sits in space, so the same code budget spends its ksub
    * entries on a much smaller volume than raw-vector PQ — that is the
    * accuracy win. */
  def pqResidualCodebooks(corpus: DataFrame, cents: Seq[(Long, Array[Double])],
                          m: Int, ksub: Int): Array[Array[Array[Double]]] = {
    val centById = cents.toMap
    // seed AFTER the centroid range: the first nlist vectors ARE the
    // centroids, so their residuals are exactly zero — seeding from them
    // would degenerate the codebook to all-zeros entries
    val seeds = corpus.orderBy(col("vec_id").asc)
      .offset(cents.size).limit(ksub)
      .select(col("embedding"),
        element_at(graft.functions.NearestCentroids.nearest_centroids(
          col("embedding"), cents, 1), 1).as("cell"))
      .collect()
      .map { r =>
        val v = r.getSeq[Any](0).map {
          case f: Float => f.toDouble
          case d: Double => d
        }.toArray
        val c = centById(r.getLong(1))
        Array.tabulate(v.length)(i => v(i) - c(i))
      }
    val subDim = seeds(0).length / m
    Array.tabulate(m) { s =>
      seeds.map(v => java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
    }
  }

  /** Literal centroid lookup column (nlist entries ride in the plan,
    * like the codebooks inside PqCodes). */
  private def centOfCol(cents: Seq[(Long, Array[Double])])
      (cell: Column): Column = {
    val centIds = array(cents.map(c => lit(c._1)).toIndexedSeq: _*)
    val centVecs = array(cents.map(c =>
      array(c._2.map(lit).toIndexedSeq: _*)).toIndexedSeq: _*)
    element_at(centVecs, array_position(centIds, cell).cast("int"))
  }

  /** Train the residual PQ codebooks (IVFADC training, Jégou 2011
    * §IV-A: k-means on the residual distribution) — seeds from
    * [[pqResidualCodebooks]], refined by `trainIters` quantized Lloyd
    * sweeps with the residuals presented AS the embedding column, so
    * the updates stay oracle-exact. The returned table is the FROZEN
    * quantizer half a serving door carries. */
  def ivfPqResidualTrain(corpus: DataFrame,
                         cents: Seq[(Long, Array[Double])],
                         m: Int = 8, ksub: Int = 16,
                         trainIters: Int = 1)
      : Array[Array[Array[Double]]] = {
    val rcbs0 = pqResidualCodebooks(corpus, cents, m, ksub)
    if (trainIters <= 0) rcbs0
    else {
      val cellCol = element_at(graft.functions.NearestCentroids
        .nearest_centroids(col("embedding"), cents, 1), 1)
      val residCorpus = corpus.select(col("vec_id"),
        zip_with(col("embedding"), centOfCol(cents)(cellCol),
          (x, c) => x.cast("double") - c).as("embedding"))
      pqRefineCodebooks(residCorpus, rcbs0, trainIters)
    }
  }

  /** Corpus → `(cell, nid, residual codes)` in ONE shuffle-free
    * projection under FROZEN centroids + residual codebooks — the
    * IVFADC twin of [[ivfPqAssign]] and the
    * [[Maintenance.IvfPqResidualDoor]] delta shape. */
  def ivfPqResidualAssign(corpus: DataFrame,
                          cents: Seq[(Long, Array[Double])],
                          rcbs: Array[Array[Array[Double]]]): DataFrame = {
    val cellCol = element_at(graft.functions.NearestCentroids
      .nearest_centroids(col("embedding"), cents, 1), 1)
    corpus.select(
      cellCol.as("cell"), col("vec_id").as("nid"),
      graft.functions.PqCodes.pq_codes(
        zip_with(col("embedding"), centOfCol(cents)(cellCol),
          (x, c) => x.cast("double") - c), rcbs).as("codes"))
  }

  /** Residual-ADC top-k over a PREBUILT residual code index.
    * Reconstruction is `cent(cell) + entry(codes)`, so the ADC cosine
    * needs two extra bounded tables, both cell-keyed and BROADCAST
    * (never corpus-shaped):
    *   - per (query, probed cell): `centdot = q·cent` (nprobe
    *     rows/query);
    *   - per (cell, sub, code): `cross = 2·cent_sub·entry + ‖entry‖²`
    *     (nlist·m·ksub rows — index-build scale),
    * giving `q·recon = centdot + Σ lut[sub][code]` and
    * `‖recon‖² = ‖cent‖² + Σ cross[sub][code]`. */
  def ivfPqResidualTopKIndexed(queries: DataFrame, index: DataFrame,
                               cents: Seq[(Long, Array[Double])],
                               rcbs: Array[Array[Array[Double]]],
                               k: Int, nprobe: Int): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val m = rcbs.length
    val subDim = rcbs(0)(0).length
    // per-cell reconstruction terms (driver-built, broadcast):
    // ccsq = ‖cent‖²; cross[s][c] = 2·cent_sub·entry + ‖entry‖², all
    // left-to-right folds so the oracle mirrors them bit-for-bit
    val aux = cents.map { case (id, c) =>
      var ccsq = 0.0
      var i = 0
      while (i < c.length) { ccsq += c(i) * c(i); i += 1 }
      val cross = Seq.tabulate(m) { s =>
        rcbs(s).toSeq.map { e =>
          var d = 0.0
          var j = 0
          while (j < subDim) { d += c(s * subDim + j) * e(j); j += 1 }
          var sq = 0.0
          j = 0
          while (j < subDim) { sq += e(j) * e(j); j += 1 }
          2.0 * d + sq
        }
      }
      (id, ccsq, cross)
    }
    val auxDf = spark.createDataset(aux).toDF("cell", "ccsq", "cross")
    // probes: (qid, cell, q·cent) + the raw-query×residual-entry LUT
    val probes = queries.select(col("vec_id").as("qid"),
        col("embedding"),
        explode(graft.functions.NearestCentroids.nearest_centroids(
          col("embedding"), cents, nprobe)).as("cell"))
      .withColumn("centdot", dot(col("embedding"),
        centOfCol(cents)(col("cell"))))
      .select("qid", "cell", "centdot")
      .join(pqQueryLut(queries, rcbs), "qid")
    val lutAt = (arr: Column, s: Column) =>
      element_at(element_at(arr, (s + 1).cast("int")),
        (element_at(col("codes"), (s + 1).cast("int")) + 1).cast("int"))
    topK(index
      .join(broadcast(probes), Seq("cell"))
      .join(broadcast(auxDf), Seq("cell"))
      .where(col("qid") =!= col("nid"))
      .withColumn("__dot", col("centdot") +
        aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
          (acc, s) => acc + lutAt(col("lut"), s)))
      .withColumn("__rsq", col("ccsq") +
        aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
          (acc, s) => acc + lutAt(col("cross"), s)))
      .withColumn("sim", col("__dot") / (col("qnorm") * sqrt(col("__rsq")))),
      k)
  }

  /** Residual IVFPQ (IVFADC — FAISS `IVFx,PQy` proper): codes encode the
    * residual vs the assigned cell centroid instead of the raw vector,
    * recovering most of the coarse quantizer's error at the same code
    * budget. Train + assign + probe under the decoupled pieces above;
    * the corpus side remains ONE shuffle-free projection, scan shape
    * and shuffle volume identical to [[ivfPqTopK]]. */
  def ivfPqResidualTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                        nlist: Int, nprobe: Int,
                        m: Int = 8, ksub: Int = 16,
                        trainIters: Int = 1): DataFrame = {
    val cents = centroids(corpus, nlist)
    val rcbs = ivfPqResidualTrain(corpus, cents, m, ksub, trainIters)
    ivfPqResidualTopKIndexed(queries,
      ivfPqResidualAssign(corpus, cents, rcbs), cents, rcbs, k, nprobe)
  }

  // ---- SQ8: the int8 scalar-quantized serving store ----

  /** `max|v|` of an embedding column, floored at 1e-300: the floor only
    * guards the all-zero vector (its int8 codes are all zeros either
    * way); real components are far above it. */
  private def absmax(e: Column): Column =
    greatest(aggregate(e, lit(0.0),
      (acc, v) => greatest(acc, abs(v.cast("double")))), lit(1e-300))

  /** Per-vector symmetric absmax int8 quantization as one per-row
    * projection, `q_j = round(v_j · 127 / max|v|)` ∈ [−127, 127] (the
    * [[quantizeInt8]] arithmetic) — the ONE quantizer both the index
    * build ([[sq8Assign]]) and the query side of [[sq8Scored]] run, so
    * a search is symmetric by construction. */
  private def int8(e: Column): Column =
    transform(e, v => round(v.cast("double") * 127.0 / absmax(e)).cast("int"))

  /** Corpus → `(cell, nid, qv, scale_x1e9)` in ONE shuffle-free
    * projection under the frozen coarse quantizer — the SQ8 middle
    * tier of the bytes-vs-recall spectrum the PQ ledger measures:
    * d bytes/vector (4× smaller than float32) at NEAR-FULL recall,
    * between the PQ code store's 8+m bytes (lossy, rerank-needing) and
    * the full-vector store's 4d. Per-vector symmetric absmax
    * quantization (`q_j = round(v_j · 127 / max|v|)` ∈ [−127,127],
    * the [[quantizeInt8]] arithmetic as a per-row projection); the
    * cell comes from the RAW vector (same argmax as every IVF door).
    * Cosine is SCALE-INVARIANT (`cos(s·q) = cos(q)`), so the serving
    * probe scores the integer arrays directly — no dequantization, no
    * per-query tables, integer-exact SQL mirror; `scale_x1e9` rides
    * along for consumers that need magnitudes (reconstruction, dot
    * products) — the cosine probe never reads it. Maintenance:
    * [[Maintenance.IvfSq8Door]] — same gen machinery as every vector
    * door, delta = this one projection. */
  def sq8Assign(corpus: DataFrame,
                cents: Seq[(Long, Array[Double])]): DataFrame = {
    val e = col("embedding")
    corpus.select(
      element_at(graft.functions.NearestCentroids.nearest_centroids(
        e, cents, 1), 1).as("cell"),
      col("vec_id").as("nid"),
      int8(e).as("qv"),
      floor(absmax(e) / 127.0 * 1000000000.0).cast("long").as("scale_x1e9"))
  }

  /** Cosine top-k over a PREBUILT SQ8 index (`(cell, nid, qv, …)` —
    * what [[sq8Assign]] emits): queries quantize under the SAME
    * arithmetic (symmetric search — both sides int8, the standard SQ8
    * regime) and probe `nprobe` cells; the scoring cosine runs over
    * the integer arrays widened to double (exact), so the result
    * mirrors bit-for-bit in SQL. */
  def sq8TopKIndexed(queries: DataFrame, index: DataFrame,
                     cents: Seq[(Long, Array[Double])],
                     k: Int, nprobe: Int): DataFrame =
    sq8Scored(queries, index, cents, k, nprobe)
      .select(col("qid"), col("nid"), col("rank").cast("long").as("rank"))

  /** The int8 scorer behind [[sq8TopKIndexed]] with the sims KEPT —
    * `(qid, nid, sim, rank)` ranked to `n` — the candidate pool the
    * margin router ([[VectorLeg.Sq8Adaptive]]) and the margin census
    * read the cut line off. */
  private[pipeline] def sq8Scored(queries: DataFrame, index: DataFrame,
                                  cents: Seq[(Long, Array[Double])],
                                  n: Int, nprobe: Int): DataFrame = {
    val e = col("embedding")
    val q = queries.select(col("vec_id").as("qid"), int8(e).as("qqv"),
      explode(graft.functions.NearestCentroids.nearest_centroids(
        e, cents, nprobe)).as("cell"))
    ranked(index.join(broadcast(q), Seq("cell"))
      .where(col("qid") =!= col("nid"))
      .withColumn("sim", cosine(col("qqv").cast("array<double>"),
        col("qv").cast("array<double>"))), n)
      .select(col("qid"), col("nid"), col("sim"), col("rank"))
  }

  /** The MARGIN CENSUS behind the adaptive router — `(qid,
    * margin_ppm)` per query, where margin_ppm = `floor((sim@k −
    * sim@(k+1)) · 1e6)` of the pruned int8 ranking (NULL when the
    * query has no k+1-th candidate). This is the distribution a
    * deployment reads its `marginPpm` threshold off (the knob is
    * meaningless without it — margins are fixture-dependent, tiny on
    * clustered corpora, wide on uniform ones), and the observability
    * twin of [[VectorLeg.Sq8Adaptive]]: the fraction under the chosen
    * threshold IS the full-vector refetch fraction the router will
    * pay. Candidate-sized work beyond the plain pruned probe. */
  def sq8CutMargins(queries: DataFrame, index: DataFrame,
                    cents: Seq[(Long, Array[Double])],
                    k: Int, nprobe: Int, rerankC: Int,
                    allowed: Option[DataFrame] = None): DataFrame = {
    require(rerankC >= k, s"rerankC ($rerankC) must cover k ($k)")
    cutMargins(sq8Scored(queries,
      prune(index, probeCells(queries, cents, nprobe), allowed), cents,
      rerankC, nprobe), k)
  }

  /** `(qid, margin_ppm)` of a ranked-with-sims candidate frame. */
  private[pipeline] def cutMargins(cand: DataFrame, k: Int): DataFrame =
    cand.where(col("rank").isin(k, k + 1))
      .groupBy("qid")
      .agg(floor((max(when(col("rank") === k, col("sim"))) -
        max(when(col("rank") === k + 1, col("sim")))) * 1e6)
        .cast("long").as("margin_ppm"))

  /** Semantic-diversity sample: partition the corpus into IVF centroid
    * cells (shuffle-free [[ivfAssign]] projection) and keep a
    * deterministic hash-rank sample of `perCell` vectors per cell — the
    * embedding-space analog of stratified sampling, used to balance
    * corpus composition when no language/source label exists. One
    * window-shuffle keyed on the cell id; per-cell census with the
    * sampled set xor-pinned so the exact selection is reproducible
    * across engines and cluster sizes. */
  def diverseSample(corpus: DataFrame, cents: Seq[(Long, Array[Double])],
                    perCell: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = ivfAssign(corpus, cents).select(col("cell"), col("nid"))
      .withColumn("__h", Dedup.portableHash(
        concat(lit("div:"), col("nid").cast("string"))))
    val w = Window.partitionBy("cell").orderBy(col("__h").asc, col("nid").asc)
    keyed.withColumn("__rk", row_number().over(w))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("__rk") <= perCell, 1L).otherwise(0L)).as("n_sampled"),
        expr(s"bit_xor(CASE WHEN __rk <= $perCell THEN nid ELSE 0 END)")
          .as("sample_xor"))
  }

  /** Bipartite near-dup: corpus vectors within `thresholdPpm` cosine of
    * ANY probe vector — semantic decontamination (drop training docs an
    * embedding model considers a copy of an eval item, catching the
    * paraphrases n-gram overlap misses). The probe side is an eval set —
    * bounded by definition — so its banded buckets broadcast; the corpus
    * streams past in one scan + one distinct on (corpus id, probe id).
    * Candidates verify with exact cosine like [[cosineNearDupPairs]]. */
  def crossNearDupPairs(corpus: DataFrame, probes: DataFrame,
                        thresholdPpm: Long, planes: Int = 6,
                        bands: Int = 8): DataFrame = {
    val bucketsOf = (df: DataFrame, idAs: String) =>
      df.select(col("vec_id").as(idAs),
        explode(graft.functions.LshBuckets.lsh_buckets(
          col("embedding"), planes, bands)).as("bucket"))
    val cand = bucketsOf(corpus, "cid")
      .join(broadcast(bucketsOf(probes, "pid")), Seq("bucket"))
      .select("cid", "pid")
      .dropDuplicates("cid", "pid")
    cand
      .join(corpus.select(col("vec_id").as("cid"), col("embedding").as("ce"))
        .hint("shuffle_hash"), Seq("cid"))
      .join(broadcast(probes.select(col("vec_id").as("pid"),
        col("embedding").as("pe"))), Seq("pid"))
      .withColumn("sim_ppm",
        floor(cosine(col("ce"), col("pe")) * 1000000.0).cast("long"))
      .where(col("sim_ppm") >= thresholdPpm)
      .select("cid", "pid", "sim_ppm")
  }

  /** Symmetric int8 quantization of an embedding column — the standard
    * storage/serving compression for ANN corpora (4× smaller than float32,
    * SIMD-friendly dot products). Per-vector absmax scaling:
    * `q_j = round(v_j · 127 / max|v|)` ∈ [−127, 127].
    *
    * Shape: one explode + two narrow shuffles (per-vector absmax, then the
    * quantized re-aggregation) — all codegen, no interpreted HOFs. Output:
    * (vec_id, qvec, scale_x1e9) with the scale fixed-point-encoded so the
    * whole result is integer-exact and oracle-checkable. */
  def quantizeInt8(df: DataFrame): DataFrame = {
    val ex = df.select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), col("pos"), col("col").cast("double").as("v"))
    val scales = ex.groupBy("vec_id")
      .agg(max(abs(col("v"))).as("absmax"))
      .where(col("absmax") > 0)
    ex.join(scales, Seq("vec_id"))
      .select(col("vec_id"), col("pos"),
        round(col("v") * 127.0 / col("absmax")).cast("int").as("q"),
        col("absmax"))
      .groupBy(col("vec_id"))
      .agg(
        array_sort(collect_list(struct(col("pos"), col("q")))).as("pq"),
        first(col("absmax")).as("absmax"))
      .select(col("vec_id"),
        transform(col("pq"), p => p.getField("q")).as("qvec"),
        floor(col("absmax") / 127.0 * 1000000000.0).cast("long").as("scale_x1e9"))
  }

  /** Embedding near-dup pairs: cosine ≥ threshold among banded-LSH
    * candidates. A pair is a candidate when ANY of the `bands` bucket ids
    * collide (MinHash-style band amplification: `bands` ↑ recall,
    * `planes` ↑ bucket count = ↓ within-bucket join cost — scale `planes`
    * with corpus size). Candidates are deduped BEFORE the exact-cosine
    * verify so each pair is scored once. */
  def cosineNearDupPairs(df: DataFrame, thresholdPpm: Long,
                         planes: Int = 8, bands: Int = 4): DataFrame = {
    // only (bucket, id) flows through the self-join and the pair dedup —
    // carrying the vectors through the band explosion multiplies shuffle
    // bytes by dim × collisions; they join back once per UNIQUE pair
    val v = df.select(col("vec_id").as("vid"),
      explode(graft.functions.LshBuckets.lsh_buckets(
        col("embedding"), planes, bands)).as("bucket"))
    // SHUFFLE_HASH hint: both sides of the bucket self-join are the same
    // corpus-sized exploded table, so broadcasting one (which Spark picks
    // when upstream stats lie small — e.g. checkpointed RDDs report no
    // size) ships n·bands rows to the driver and every executor. The
    // symmetric shuffled hash join is the scale-safe plan; the hint takes
    // precedence over the size-estimate broadcast decision.
    val pairs = v.select(col("bucket"), col("vid").as("ida"))
      .join(v.select(col("bucket"), col("vid").as("idb")).hint("shuffle_hash"),
        Seq("bucket"))
      .where(col("ida") < col("idb"))
      .select("ida", "idb")
      .dropDuplicates("ida", "idb")
    // join-backs: the embeddings side is corpus-sized — never its build
    // side a broadcast (same stats hazard as above); candidates × corpus
    // as a shuffled hash join stays linear at any corpus size
    pairs
      .join(df.select(col("vec_id").as("ida"), col("embedding").as("ea"))
        .hint("shuffle_hash"), Seq("ida"))
      .join(df.select(col("vec_id").as("idb"), col("embedding").as("eb"))
        .hint("shuffle_hash"), Seq("idb"))
      .withColumn("sim_ppm",
        floor(cosine(col("ea"), col("eb")) * 1000000.0).cast("long"))
      .where(col("sim_ppm") >= thresholdPpm)
      .select("ida", "idb", "sim_ppm")
  }

  // ---- SemDeDup: cluster-scoped semantic dedup ----

  /** Corpus with IVF cell id AND the floored-ppm cosine to the assigned
    * cell's centroid: `(cell, nid, ne, cent_ppm)`. The assignment is the
    * shuffle-free [[ivfAssign]] projection; the centroid similarity is one
    * broadcast join against the nlist-row centroid table. */
  private def assignWithCentSim(corpus: DataFrame,
                                cents: Seq[(Long, Array[Double])]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centDf = cents.map { case (id, arr) => (id, arr.toSeq) }
      .toDF("cell", "cent")
    ivfAssign(corpus, cents)
      .join(broadcast(centDf), Seq("cell"))
      // float→double widening is exact, so this matches the oracle's
      // CAST(x AS DOUBLE) bit-for-bit
      .withColumn("cent_ppm",
        floor(cosine(col("ne").cast("array<double>"), col("cent"))
          * 1000000.0).cast("long"))
      .select(col("cell"), col("nid"), col("ne"), col("cent_ppm"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): embeddings are
    * clustered; near-duplicate pairs are searched ONLY within a cluster;
    * from each duplicate pair the member MORE similar to its cluster
    * centroid is dropped — keeping the least-central (most diverse)
    * example, the paper's keep rule. Deterministic tiebreak: equal
    * centroid similarity drops the higher id.
    *
    * Output: the dropped rows, `(nid, cell, cent_ppm)`.
    *
    * 100 TB shape: the cluster assignment is a shuffle-free projection
    * ([[graft.functions.NearestCentroids]]); the pair search is a
    * cell-keyed self-join, so candidate work is Σ|cell|² — the paper's
    * own scaling lever is nlist ∝ N (it runs k ≈ 50k clusters at 100M+
    * docs), which keeps cells near-constant-sized and the join linear.
    * Skewed cells can additionally reuse the hot-bucket cap
    * ([[graft.pipeline.Dedup]]). Here nlist is a parameter; the fixture
    * uses the deterministic seeded quantizer so the whole operator
    * mirrors in SQL. */
  def semDeDupDrops(corpus: DataFrame, nlist: Int,
                    thresholdPpm: Long): DataFrame = {
    // checkpoint the assignment: it feeds BOTH self-join sides, and the
    // nlist·d-per-row argmax is the operator's dominant cost — computing
    // it once instead of twice took the 1M-vector ScaleBench stage from
    // 172 s to 48 s and halved shuffle records to exactly 2N
    val asg = Dedup.checkpointCorpus(
      assignWithCentSim(corpus, centroids(corpus, nlist)))
    val a = asg.select(col("cell"), col("nid").as("ida"),
      col("ne").as("ea"), col("cent_ppm").as("ca"))
    val b = asg.select(col("cell"), col("nid").as("idb"),
      col("ne").as("eb"), col("cent_ppm").as("cb"))
    // symmetric corpus-sized self-join: shuffled hash, never broadcast
    // (same stats hazard as embNearDup above)
    val pairs = a.join(b.hint("shuffle_hash"), Seq("cell"))
      .where(col("ida") < col("idb"))
      .where(floor(cosine(col("ea"), col("eb")) * 1000000.0)
        .cast("long") >= thresholdPpm)
    pairs
      .select(col("cell"),
        when(col("ca") < col("cb"), col("idb"))
          .when(col("cb") < col("ca"), col("ida"))
          .otherwise(col("idb")).as("nid"),
        when(col("ca") < col("cb"), col("cb"))
          .when(col("cb") < col("ca"), col("ca"))
          .otherwise(col("cb")).as("cent_ppm"))
      .dropDuplicates("nid")
      .select(col("nid"), col("cell"), col("cent_ppm"))
  }

  /** One-row SemDeDup census: corpus size, kept/dropped counts, and how
    * many cells contained duplicates. */
  def semDeDupCensus(corpus: DataFrame, nlist: Int,
                     thresholdPpm: Long): DataFrame = {
    val drops = semDeDupDrops(corpus, nlist, thresholdPpm)
    val d = drops.agg(
      count(lit(1)).as("dropped_vecs"),
      countDistinct(col("cell")).as("cells_with_dups"))
    val t = corpus.agg(count(lit(1)).as("total_vecs"))
    t.crossJoin(d).select(
      col("total_vecs"),
      (col("total_vecs") - col("dropped_vecs")).as("kept_vecs"),
      col("dropped_vecs"), col("cells_with_dups"))
  }
}
