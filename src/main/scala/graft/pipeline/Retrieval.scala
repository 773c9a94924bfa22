package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval: reciprocal-rank fusion (RRF) of a lexical (BM25)
  * leg and a vector (cosine) leg — the standard first-stage ranker of a
  * RAG / training-data-curation stack (Cormack et al., SIGIR 2009: RRF
  * outperforms either leg alone and needs no score calibration between
  * legs, only ranks).
  *
  * Scale shape: each leg is one of the engine's existing top-k
  * operators — the BM25 posting-index probe (bucket-pruned parquet
  * scan) and the IVF partition-pruned cosine probe — so the corpus-
  * sized work is exactly what those legs already pay; the fusion
  * itself runs over 2·legK rows (tiny by construction: a groupBy on a
  * frame whose size is the sum of the leg ks, independent of corpus
  * size). Nothing here adds a corpus-sized shuffle on top of the legs.
  *
  * Determinism: fusion is integer-exact — `rrf_ppm = Σ_legs 1000000
  * div (k0 + rank)` over bigint ranks, so the fused ordering mirrors
  * in ANSI SQL for the DuckDB oracle; ranks inside each leg carry the
  * engine's deterministic tie-break (score desc, id asc).
  *
  * Serving from tailer-maintained stores is ONE composition,
  * [[storeHybrid]]: resolve every store at the min-committed batch,
  * run the lexical leg, run the tier's [[VectorLeg]] probe (IVF, PQ
  * with rerank, SQ8, SQ8-adaptive; batch or scalar), fuse per qid. The
  * same legs over in-memory indexes are the points of the one recall
  * sweep, [[annRecallSweep]].
  */
object Retrieval {

  /** The single-query entry points fuse with [[rrfFuse]], which merges
    * ALL rows of each leg into ONE ranked list — a multi-query frame
    * would silently interleave per-qid ranks into a meaningless fused
    * result. Guard: at most one query ROW, checked with a
    * short-circuiting limit-2 scan (no distinct — a duplicate-row
    * frame is equally invalid input for the probes' cross joins, and
    * skipping the distinct keeps the guard a shuffle-free sub-second
    * probe on the serving path; query frames are serving-batch sized
    * by contract — the IVF probe's cell resolution already collects
    * from the same frame). */
  private def requireSingleQuery(queryVecs: DataFrame): Unit = {
    val ids = queryVecs.select(col("vec_id")).limit(2).collect()
    require(ids.length <= 1, "this entry point fuses a SINGLE query; " +
      s"got ${ids.length}+ rows in queryVecs — use the " +
      "batched variant (hybridTopKBatch / storeHybrid) for " +
      "multi-query frames")
  }

  /** Rank a BM25 `(doc_id, score)` top-k result 1..k. The input is
    * already k-sized (both [[TextAnalysis.bm25TopK]] and
    * [[Bm25Index.search]] end in `.limit(k)`), so the unpartitioned
    * window runs over k rows on one task — never corpus-sized. */
  def rankLex(topk: DataFrame): DataFrame =
    topk.select(col("doc_id"),
      row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc))
        .cast("long").as("rank"))

  /** Fuse ranked legs — each `(doc_id, rank)` with rank 1-based — into
    * the RRF top-k: `rrf_ppm = Σ w_leg div (k0 + rank)` summed over
    * the legs a doc appears in, ties broken by doc_id. `n_legs` counts
    * the contributing legs (2 = found by both lexical and vector
    * search). k0 = 60 is the constant from the RRF paper; `weights`
    * (ppm per leg, default 1,000,000 each) is the standard
    * lexical-vs-semantic tuning knob — integer weights keep the fused
    * ordering exactly SQL-mirrorable. */
  def rrfFuse(legs: Seq[DataFrame], k: Int, k0: Int = 60,
              weights: Seq[Long] = Nil): DataFrame = {
    require(legs.nonEmpty, "rrfFuse needs at least one leg")
    require(weights.isEmpty || weights.size == legs.size,
      s"${weights.size} weights for ${legs.size} legs")
    val ws =
      if (weights.isEmpty) Seq.fill(legs.size)(1000000L) else weights
    val all = legs.zip(ws).map { case (l, w) => l.select(
      col("doc_id").cast("long").as("doc_id"),
      col("rank").cast("long").as("rank"),
      lit(w).as("__w")) }.reduce(_ unionByName _)
    all.groupBy("doc_id")
      .agg(sum(expr(s"__w div ($k0 + rank)")).as("rrf_ppm"),
        count(lit(1)).as("n_legs"))
      .orderBy(col("rrf_ppm").desc, col("doc_id").asc)
      .limit(k)
  }

  /** A hybrid query for [[storeHybrid]]: a batch — the query frame
    * `(vec_id, embedding)` plus each qid's terms — or one scalar
    * `(qid, vector)` with its terms. A single query is a batch of one
    * (per-qid fusion is correct for any number of rows); the scalar
    * shape keeps the vector leg's driver-side cell resolution. */
  sealed trait HybridQuery
  final case class BatchQuery(vecs: DataFrame,
                              terms: Seq[(Long, Seq[String])])
      extends HybridQuery
  final case class ScalarQuery(qid: Long, vec: Seq[Double],
                               terms: Seq[String]) extends HybridQuery

  /** The CONSISTENT store-backed hybrid — every served tier × shape:
    *
    *  1. the BM25 store under `bmDir` and every store the vector `leg`
    *     reads ([[graft.streaming.IndexMaintenanceStream]] layouts fed
    *     by the same logical mutation stream) resolve AT ONE committed
    *     batch, the min over their state pointers — a mutation landed
    *     in one store but not yet another is invisible to the fused
    *     answer, and the PQ/SQ8 exact tails never refetch from a
    *     different corpus version than their codes. Rides
    *     [[graft.streaming.IndexMaintenanceStream.viewAt]], so the
    *     oldest store's view costs nothing extra (the pointers drift
    *     only by in-flight batches, far inside the reader-grace window);
    *  2. the lexical leg — [[Bm25Index.searchBatch]] reads the UNION of
    *     all queries' posting buckets once;
    *  3. the leg's probe — one partition-pruned scan over the union of
    *     the queries' cells ([[VectorLeg.batch]]), or the scalar probe
    *     with driver-side cell resolution ([[VectorLeg.scalar]]);
    *  4. per-qid RRF fusion ([[rrfFuseByQuery]]; `weights` = per-leg
    *     ppm, lexical then vector).
    *
    * `allowed` (optional — first column = allowed doc/vector ids) is
    * the metadata slice: it semi-joins each leg's probe-sized
    * candidates BEFORE its per-qid top-k, scoring stays global on both
    * legs (Lucene-filter / FAISS-IDSelector semantics), so filtering
    * and batch amortization compose. Output `(qid, doc_id, rrf_ppm,
    * n_legs, rank)`. */
  def storeHybrid(spark: org.apache.spark.sql.SparkSession,
                  bmDoor: Maintenance.Door, bmDir: String, nBuckets: Int,
                  leg: VectorLeg.Stored, query: HybridQuery, k: Int,
                  legK: Int = 20, k0: Int = 60, weights: Seq[Long] = Nil,
                  allowed: Option[DataFrame] = None): DataFrame = {
    import graft.streaming.IndexMaintenanceStream
    val stores = (bmDoor -> bmDir) +: leg.stores
    val asOf = stores
      .map(s => IndexMaintenanceStream.committedBatch(spark, s._2)).min
    val views = stores.map { case (door, dir) =>
      IndexMaintenanceStream.viewAt(spark, door, dir, asOf) }
    val (bmView, bmStats) = views.head
    val probe = leg.at(views.tail.map(_._1))
    val (terms, vec) = query match {
      case BatchQuery(vecs, ts) => (ts, probe.batch(vecs, legK, allowed))
      case ScalarQuery(qid, v, ts) =>
        (Seq(qid -> ts), probe.scalar(qid, v, legK, allowed))
    }
    // bmView goes to search UNMATERIALIZED: search's own lazy
    // localCheckpoint holds only the bucket-pruned probe-sized posting
    // subset — an eager corpus-sized checkpoint here would defeat the
    // pruning on every serving query (and, under reliableCheckpoint,
    // leak one durable checkpoint dir per query)
    val lex = allowed.fold(
      Bm25Index.searchBatch(bmView, bmStats.get, terms, legK, nBuckets))(
      a => Bm25Index.searchBatchFiltered(bmView, bmStats.get, terms, legK,
        nBuckets, a))
    rrfFuseByQuery(Seq(
      lex.select(col("qid"), col("doc_id"), col("rank")),
      vec.select(col("qid"), col("nid").as("doc_id"), col("rank"))),
      k, k0, weights)
  }

  /** [[storeHybrid]] over a full-vector IVF store, batched. Kept with
    * this exact signature as a one-expression delegate because the
    * benchmark harness under `perfbench/` calls it positionally. */
  def hybridFromStoresBatch(spark: org.apache.spark.sql.SparkSession,
                            bmDoor: Maintenance.Door, bmDir: String,
                            nBuckets: Int,
                            ivfDoor: Maintenance.Door, ivfDir: String,
                            cents: Seq[(Long, Array[Double])],
                            queryVecs: DataFrame,
                            queries: Seq[(Long, Seq[String])], k: Int,
                            legK: Int = 20, nprobe: Int = 4,
                            k0: Int = 60,
                            weights: Seq[Long] = Nil,
                            allowed: Option[DataFrame] = None)
      : DataFrame =
    storeHybrid(spark, bmDoor, bmDir, nBuckets,
      VectorLeg.ivfStore(ivfDoor, ivfDir, cents, nprobe),
      BatchQuery(queryVecs, queries), k, legK, k0, weights, allowed)

  /** [[storeHybrid]] over the PQ code store with its full-vector rerank
    * store, batched. Kept with this exact signature as a one-expression
    * delegate because the benchmark harness under `perfbench/` calls it
    * positionally. */
  def hybridFromStoresPqBatch(spark: org.apache.spark.sql.SparkSession,
                              bmDoor: Maintenance.Door, bmDir: String,
                              nBuckets: Int,
                              pqDoor: Maintenance.Door, pqDir: String,
                              cents: Seq[(Long, Array[Double])],
                              cbs: Array[Array[Array[Double]]],
                              vecDoor: Maintenance.Door, vecDir: String,
                              queryVecs: DataFrame,
                              queries: Seq[(Long, Seq[String])], k: Int,
                              legK: Int = 20, rerankC: Int = 100,
                              nprobe: Int = 4, k0: Int = 60,
                              weights: Seq[Long] = Nil,
                              allowed: Option[DataFrame] = None)
      : DataFrame =
    storeHybrid(spark, bmDoor, bmDir, nBuckets,
      VectorLeg.pqStore(pqDoor, pqDir, cents, cbs, vecDoor, vecDir, nprobe,
        rerankC),
      BatchQuery(queryVecs, queries), k, legK, k0, weights, allowed)

  /** Index-free hybrid top-k: BM25-score `docs` for `qTerms` and
    * cosine-rank `emb` against the embedding of `qid`, fuse with RRF
    * (optionally weighted — `weights` = (lexical, vector) ppm). The
    * correctness baseline — the indexed variant below must agree when
    * its index is exact. */
  def hybridTopK(docs: DataFrame, emb: DataFrame, idCol: Column,
                 text: Column, qTerms: Seq[String], qid: Long, k: Int,
                 legK: Int = 20, k0: Int = 60,
                 weights: Seq[Long] = Nil): DataFrame = {
    val lex = rankLex(TextAnalysis.bm25TopK(docs, idCol, text, qTerms,
      legK))
    val vec = Similarity.bruteForceTopK(
      emb.where(col("vec_id") === qid), emb, legK)
      .select(col("nid").as("doc_id"), col("rank"))
    rrfFuse(Seq(lex, vec), k, k0, weights)
  }

  /** Per-query RRF fusion for a BATCH of queries: each leg carries
    * `(qid, doc_id, rank)` with rank 1-based within its qid; the fused
    * top-k is computed independently per qid (same integer-exact sum
    * as [[rrfFuse]], same doc_id tie-break). Output `(qid, doc_id,
    * rrf_ppm, n_legs, rank)`. The per-qid window runs over the fused
    * candidates only — at most legs·legK rows per query. */
  def rrfFuseByQuery(legs: Seq[DataFrame], k: Int,
                     k0: Int = 60,
                     weights: Seq[Long] = Nil): DataFrame = {
    require(legs.nonEmpty, "rrfFuseByQuery needs at least one leg")
    require(weights.isEmpty || weights.size == legs.size,
      s"${weights.size} weights for ${legs.size} legs")
    val ws =
      if (weights.isEmpty) Seq.fill(legs.size)(1000000L) else weights
    val all = legs.zip(ws).map { case (l, lw) => l.select(
      col("qid").cast("long").as("qid"),
      col("doc_id").cast("long").as("doc_id"),
      col("rank").cast("long").as("rank"),
      lit(lw).as("__w")) }.reduce(_ unionByName _)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rrf_ppm").desc, col("doc_id").asc)
    all.groupBy("qid", "doc_id")
      .agg(sum(expr(s"__w div ($k0 + rank)")).as("rrf_ppm"),
        count(lit(1)).as("n_legs"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Batched serving-path hybrid: B queries answered in ONE pass over
    * each index — [[Bm25Index.searchBatch]] reads every touched
    * posting bucket once for all queries' terms, the IVF probe batches
    * natively ([[Similarity.ivfTopKIndexed]] broadcasts all probe
    * cells), and the fusion is per-qid. `queries` pairs each qid with
    * its term list; `queryVecs` carries the same qids as `vec_id`
    * rows. This is the deployment shape: amortizing the index scans
    * over the query batch is what makes a high-QPS serving tier pay
    * O(touched buckets), not O(B · touched buckets). `weights` =
    * per-leg ppm (lexical, vector) — the same tuning knob as
    * [[rrfFuse]]'s, so the batched tier serves the weighted ranker
    * too (spec-pinned: batch-with-weights ≡ per-query weighted
    * fusion). `allowed` (optional — first column = allowed ids) is
    * the metadata slice on the batch tier: both legs' candidates are
    * masked BEFORE their per-qid top-k with global scoring preserved
    * ([[Bm25Index.searchBatchFiltered]] semantics on the lexical leg,
    * a pre-probe semi-join under the frozen quantizer on the vector
    * leg), spec-pinned batched-filtered ≡ per-query filtered. */
  def hybridTopKBatch(postings: DataFrame, stats: DataFrame,
                      nBuckets: Int, ivfIndex: DataFrame,
                      cents: Seq[(Long, Array[Double])],
                      queryVecs: DataFrame,
                      queries: Seq[(Long, Seq[String])], k: Int,
                      legK: Int = 20, nprobe: Int = 4,
                      k0: Int = 60,
                      weights: Seq[Long] = Nil,
                      allowed: Option[DataFrame] = None): DataFrame = {
    val lex = allowed.fold(
      Bm25Index.searchBatch(postings, stats, queries, legK, nBuckets))(
      a => Bm25Index.searchBatchFiltered(postings, stats, queries, legK,
        nBuckets, a))
      .select(col("qid"), col("doc_id"), col("rank"))
    // the vector leg's mask is the pruned probes' own step
    // (Similarity.mask), under the unpruned in-memory scorer
    val vec = Similarity.ivfTopKIndexed(queryVecs,
      Similarity.mask(ivfIndex, allowed), cents, legK, nprobe)
      .select(col("qid"), col("nid").as("doc_id"), col("rank"))
    rrfFuseByQuery(Seq(lex, vec), k, k0, weights)
  }

  /** Serving-path hybrid top-k over PREBUILT indexes: the BM25
    * posting index (bucket-pruned probe, [[Bm25Index.search]]) and an
    * IVF cell index under its frozen quantizer
    * ([[Similarity.ivfTopKIndexed]]) — what a deployment runs, with
    * both corpus-sized structures built once and probed per query. */
  def hybridTopKIndexed(postings: DataFrame, stats: DataFrame,
                        nBuckets: Int, ivfIndex: DataFrame,
                        cents: Seq[(Long, Array[Double])],
                        queryVec: DataFrame, qTerms: Seq[String],
                        k: Int, legK: Int = 20, nprobe: Int = 4,
                        k0: Int = 60): DataFrame = {
    requireSingleQuery(queryVec)
    val lex = rankLex(Bm25Index.search(postings, stats, qTerms, legK,
      nBuckets))
    val vec = Similarity.ivfTopKIndexed(queryVec, ivfIndex, cents, legK,
      nprobe)
      .select(col("nid").as("doc_id"), col("rank"))
    rrfFuse(Seq(lex, vec), k, k0)
  }

  /** The SCALAR single-query serving door — `(qid, vector)` instead of
    * a one-row DataFrame, so single-query semantics hold at COMPILE
    * time and the serving hot path pays neither the multi-query guard
    * job (the limit-2 collect of [[requireSingleQuery]]) nor the IVF
    * cell-resolution job (cells resolve driver-side through the same
    * compiled argmax — [[Similarity.probeCellsScalar]]). `allowed`
    * composes the [[hybridTopKIndexedFiltered]] mask; `weights` the
    * per-leg ppm knob. Results ≡ the DataFrame door on the same query
    * (spec-pinned, along with the job-count cut). The DataFrame door
    * stays for callers whose queries already live in a frame. */
  def hybridTopKIndexedScalar(postings: DataFrame, stats: DataFrame,
                              nBuckets: Int, ivfIndex: DataFrame,
                              cents: Seq[(Long, Array[Double])],
                              query: (Long, Seq[Double]),
                              qTerms: Seq[String],
                              k: Int, legK: Int = 20, nprobe: Int = 4,
                              k0: Int = 60,
                              weights: Seq[Long] = Nil,
                              allowed: Option[DataFrame] = None)
      : DataFrame = {
    val ids = allowed.map(a =>
      a.select(col(a.columns.head).as("doc_id")))
    val lex = rankLex(ids.fold(
      Bm25Index.search(postings, stats, qTerms, legK, nBuckets))(a =>
      Bm25Index.searchFiltered(postings, stats, qTerms, legK, nBuckets,
        a)))
    val vec = VectorLeg.Ivf(ivfIndex, cents, nprobe)
      .scalar(query._1, query._2, legK, ids)
      .select(col("nid").as("doc_id"), col("rank"))
    rrfFuse(Seq(lex, vec), k, k0, weights)
  }

  /** RETRIEVAL EVALUATION — the harness that closes the loop on every
    * ranker above: per-query IR metrics of a ranked result set against
    * a relevance table (qrels). Metrics are INTEGER-EXACT (ppm via
    * bigint `div`), so the whole evaluation mirrors in ANSI SQL for
    * the DuckDB oracle — no float log/division to drift on:
    *
    *  - `hits`        relevant results at rank ≤ k
    *  - `recall_ppm`  hits · 1e6 div n_rel
    *  - `mrr_ppm`     1e6 div (rank of the first hit)   (0 if none)
    *  - `ap_ppm`      Σ_{i-th hit at rank r} (i·1e6 div r) div n_rel
    *                  — average precision, the AP@k with the
    *                  n_rel denominator
    *
    * Every query in `qrels` appears in the output (zero rows for
    * no-hit queries) — silent query drop is the classic eval bug.
    * Scale shape: one semi-join of the k-bounded results against the
    * qrels (both ranked-result-sized, never corpus-sized), per-qid
    * windows over ≤ k rows; qrels may be corpus-derived but arrives
    * pre-projected to (qid, doc_id). */
  def evalMetrics(results: DataFrame, qrels: DataFrame,
                  k: Int): DataFrame = {
    val rel = qrels.select(col("qid").cast("long").as("qid"),
      col("doc_id").cast("long").as("doc_id")).distinct()
    val nRel = rel.groupBy("qid").agg(count(lit(1)).as("n_rel"))
    val hits = results
      .select(col("qid").cast("long").as("qid"),
        col("doc_id").cast("long").as("doc_id"),
        col("rank").cast("long").as("rank"))
      .where(col("rank") <= k)
      .join(rel, Seq("qid", "doc_id"), "left_semi")
    val w = Window.partitionBy(col("qid")).orderBy(col("rank").asc)
    val perHit = hits
      .withColumn("hit_idx", row_number().over(w).cast("long"))
      .select(col("qid"), col("rank"),
        expr("hit_idx * 1000000 div rank").as("prec_ppm"))
    val agg = perHit.groupBy("qid").agg(
      count(lit(1)).as("hits"),
      min(col("rank")).as("first_hit_rank"),
      sum(col("prec_ppm")).as("sum_prec_ppm"))
    nRel.join(agg, Seq("qid"), "left")
      .select(col("qid"), col("n_rel"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        expr("coalesce(hits, 0) * 1000000 div n_rel").as("recall_ppm"),
        coalesce(expr("1000000 div first_hit_rank"), lit(0L))
          .as("mrr_ppm"),
        expr("coalesce(sum_prec_ppm, 0) div n_rel").as("ap_ppm"))
  }

  /** Macro average of [[evalMetrics]] over all queries — one row
    * `(n_queries, macro_recall_ppm, macro_mrr_ppm, macro_map_ppm)`,
    * each the integer mean (ppm div) of the per-query values. */
  def evalMacro(perQuery: DataFrame): DataFrame =
    perQuery.agg(count(lit(1)).as("n_queries"),
      expr("sum(recall_ppm) div count(1)").as("macro_recall_ppm"),
      expr("sum(mrr_ppm) div count(1)").as("macro_mrr_ppm"),
      expr("sum(ap_ppm) div count(1)").as("macro_map_ppm"))

  /** PARAMETER-SWEEP harness — the tuning loop [[evalMetrics]] opens,
    * closed: score every fusion variant (per-leg weights × k0) of the
    * SAME ranked legs against one qrels table and rank the variants by
    * macro MAP. The legs are eagerly materialized ONCE (they are
    * leg-k-sized — |queries| × legK rows), so the sweep probes each
    * index exactly once no matter how many variants run; per variant
    * the work is one leg-k-sized fusion plus the qrels-sized metric
    * pass — never an index touch, never per (variant × query)
    * (ScaleBench pins this at 1M). Output: one row per variant
    * `(variant_id, lex_w, vec_w, k0, n_queries, macro_recall_ppm,
    * macro_mrr_ppm, macro_map_ppm)`, best MAP first (ties: lower
    * variant_id), integer-exact end to end so the whole sweep mirrors
    * in ANSI SQL.
    *
    * `variants` = (variant_id, (lexWeightPpm, vecWeightPpm), k0);
    * `legs` = (lexical, vector) ranked `(qid, doc_id, rank)` frames,
    * the exact shapes [[Bm25Index.searchBatch]] /
    * [[Similarity.ivfTopKIndexed]] emit. */
  def evalSweep(lexLeg: DataFrame, vecLeg: DataFrame,
                variants: Seq[(Long, (Long, Long), Int)],
                k: Int, qrels: DataFrame, evalK: Int): DataFrame = {
    require(variants.nonEmpty, "evalSweep needs at least one variant")
    val lex = Dedup.checkpointCorpus(
      lexLeg.select(col("qid"), col("doc_id"), col("rank")))
    val vec = Dedup.checkpointCorpus(
      vecLeg.select(col("qid"), col("doc_id"), col("rank")))
    val rows = variants.map { case (vid, (wl, wv), k0) =>
      val fused = rrfFuseByQuery(Seq(lex, vec), k, k0, Seq(wl, wv))
      evalMacro(evalMetrics(
        fused.select(col("qid"), col("doc_id"), col("rank")),
        qrels, evalK))
        .select(lit(vid).as("variant_id"), lit(wl).as("lex_w"),
          lit(wv).as("vec_w"), lit(k0.toLong).as("k0"),
          col("n_queries"), col("macro_recall_ppm"),
          col("macro_mrr_ppm"), col("macro_map_ppm"))
    }
    rows.reduce(_ unionByName _)
      .orderBy(col("macro_map_ppm").desc, col("variant_id").asc)
  }

  /** The ANN-side tuning loop — [[evalSweep]]'s twin for the knobs
    * the recall ledgers expose: score each operating point's
    * [[VectorLeg]] probe against an EXACT reference top-k (`exact` =
    * `(qid, nid)` rows, e.g. [[Similarity.bruteForceTopK]] output on a
    * held-out query sample) and lay out the accuracy curve. `labels`
    * names the knob columns (e.g. `nprobe`, or `nprobe`, `rerank_c` for
    * the code-store surface); each point gives their values and the leg
    * built at them. One row per point `(labels…, n_queries,
    * macro_recall_ppm, macro_mrr_ppm, macro_map_ppm)` ordered by the
    * labels — the measured recall-vs-cost curve a deployment reads the
    * operating point off. Cost shape: the reference is materialized
    * ONCE (query-sample × k rows); each point pays exactly one pruned
    * probe (≤ |queries|·nprobe of the nlist cell partitions, plus
    * queries × rerankC refetches on a tail — the cost being swept, so
    * per-point index work is the measurement, not overhead) plus a
    * qrels-sized metric pass. Integer-exact end to end, so the whole
    * sweep mirrors in ANSI SQL. */
  def annRecallSweep(queries: DataFrame, labels: Seq[String],
                     points: Seq[(Seq[Long], VectorLeg)], k: Int,
                     exact: DataFrame): DataFrame = {
    require(points.nonEmpty, "annRecallSweep needs at least one point")
    require(points.forall(_._1.size == labels.size),
      s"every point needs one value per label (${labels.mkString(", ")})")
    val qrels = Dedup.checkpointCorpus(
      exact.select(col("qid"), col("nid").as("doc_id")))
    points.map { case (values, leg) =>
      val res = leg.batch(queries, k)
        .select(col("qid"), col("nid").as("doc_id"), col("rank"))
      evalMacro(evalMetrics(res, qrels, k)).select(
        labels.zip(values).map { case (l, v) => lit(v).as(l) } ++
          Seq(col("n_queries"), col("macro_recall_ppm"),
            col("macro_mrr_ppm"), col("macro_map_ppm")): _*)
    }.reduce(_ unionByName _).orderBy(labels.map(col(_).asc): _*)
  }

  /** METADATA-FILTERED hybrid — the "search within a slice" query every
    * retrieval deployment serves (language = en, date range, source
    * domain): `allowed` (first column = allowed doc ids, e.g.
    * `docs.where(pred).select("doc_id")`) masks BOTH legs' candidate
    * pools before their top-k limits, so the fused answer is the true
    * hybrid top-k over the slice. Scoring semantics follow each leg's
    * production convention ([[Bm25Index.searchFiltered]] keeps global
    * df/corpus stats — Lucene filter-query semantics;
    * the [[VectorLeg.Ivf]] probe's mask filters candidates
    * under the frozen quantizer — FAISS IDSelector semantics), so per-doc
    * scores are unchanged by the mask and the filter costs
    * probe-sized ⋈ allowed on each leg, never a corpus rescan. */
  def hybridTopKIndexedFiltered(postings: DataFrame, stats: DataFrame,
                                nBuckets: Int, ivfIndex: DataFrame,
                                cents: Seq[(Long, Array[Double])],
                                queryVec: DataFrame,
                                qTerms: Seq[String],
                                allowed: DataFrame,
                                k: Int, legK: Int = 20, nprobe: Int = 4,
                                k0: Int = 60,
                                weights: Seq[Long] = Nil): DataFrame = {
    requireSingleQuery(queryVec)
    val ids = allowed.select(col(allowed.columns.head).as("doc_id"))
    val lex = rankLex(Bm25Index.searchFiltered(postings, stats, qTerms,
      legK, nBuckets, ids))
    val vec = VectorLeg.Ivf(ivfIndex, cents, nprobe)
      .batch(queryVec, legK, Some(ids))
      .select(col("nid").as("doc_id"), col("rank"))
    rrfFuse(Seq(lex, vec), k, k0, weights)
  }
}
