package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: these queries must keep the physical-plan
  * properties that make them scale (pushdown, pruning, broadcast, top-k
  * short-circuit, snapshot reuse). A correctness-green change that loses
  * one of these would silently cost 10–100× at cluster scale.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  private def formatted(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  test("q1_pricing: shipdate filter pushes into the parquet scan") {
    val plan = formatted("q1_pricing")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
  }

  test("q1_pricing: column pruning reaches the scan (no unused columns)") {
    val plan = formatted("q1_pricing")
    val readSchema = plan.linesIterator.find(_.startsWith("ReadSchema:")).get
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_partkey"))
  }

  // Joins on unhinted SF-linear sides: the STRATEGY (broadcast vs
  // shuffled hash vs sort-merge) is AQE's runtime size decision, not an
  // engine property — pinning "BroadcastHashJoin" on one breaks at any
  // fixture past the 10 MB threshold with zero engine change (round-8
  // verdict). The engine invariants are: the join stays in the EQUI
  // family (never nested-loop/cartesian), and no ResolvedHint pins an
  // SF-linear frame (the broadcast-hygiene sweep below).
  private def equiJoins(plan: String): Int =
    "(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin)".r
      .findAllIn(plan).size

  test("q3_top_orders: equi joins only; top-k is TakeOrdered, not global sort") {
    val plan = formatted("q3_top_orders")
    assert(equiJoins(plan) >= 2,
      s"customer+lineitem must ride equi joins:\n$plan")
    assert(!plan.contains("BroadcastNestedLoop") &&
      !plan.contains("CartesianProduct"), s"no nested loop:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("near-dup self-joins over checkpointed corpora stay equi joins, " +
       "never nested-loop") {
    import org.apache.spark.sql.functions.{col, expr}
    import graft.pipeline.{Curation, Dedup, Similarity}
    val docs = spark.range(2000).select(col("id").as("doc_id"),
      expr("""array_join(transform(sequence(0, 39), j ->
        concat('w', pmod(xxhash64(id * 40 + j), 3000))), ' ')""").as("text"))
      .localCheckpoint(true)
    val emb = spark.range(2000).select(col("id").as("vec_id"),
      expr("""transform(sequence(0, 15), j ->
        cast(pmod(xxhash64(id, j), 2000) as float) / 1000.0 - 1.0)""")
        .cast("array<float>").as("embedding")).localCheckpoint(true)
    Seq(
      "jaccardPairs" -> Dedup.jaccardPairs(docs, "doc_id", col("text"), 3, 600000L),
      "minhashCandidates" -> Dedup.minhashCandidates(docs, "doc_id", col("text")),
      "simhashPairs" -> Dedup.simhashPairs(docs, "doc_id", col("text")),
      "lshTopK" -> Similarity.lshTopK(emb.where(col("vec_id") < 5), emb, 5, 12, 4),
      "cosineNearDupPairs" -> Similarity.cosineNearDupPairs(emb, 900000L, 14, 4),
      "decontaminate" -> Curation.decontaminate(docs, docs.limit(100), "doc_id",
        col("text"), 5)
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(equiJoins(plan) > 0 && !plan.contains("BroadcastNestedLoop") &&
        !plan.contains("CartesianProduct"), s"$name:\n$plan")
    }
  }

  // another suite's unpersist() of a same-plan DataFrame evicts the snapshot
  // cache entry (CacheManager matches by logical plan) — re-establish it
  private def freshSnapshot(): Unit = {
    graft.inodes.InodeView.invalidate(dir)
    graft.inodes.InodeView.snapshot(spark, dir)
  }

  test("inode queries reuse the cached snapshot (InMemoryTableScan)") {
    freshSnapshot()
    val plan = formatted("nna_filter_count")
    assert(plan.contains("InMemoryTableScan"))
  }

  test("histogram aggregation is partial+final around one exchange") {
    freshSnapshot()
    val plan = formatted("nna_histogram_user")
    // two HashAggregates (partial, final) with exactly one shuffle between,
    // not counting the cached snapshot's internal exchanges
    val afterScan = plan.substring(0, plan.indexOf("InMemoryTableScan"))
    assert(afterScan.count(_ == 'E') >= 1) // sanity: section non-trivial
    assert("HashAggregate".r.findAllIn(afterScan).size === 2)
    assert("Exchange".r.findAllIn(afterScan).size === 1)
  }

  test("find-global-max compiles to TakeOrdered (no full sort)") {
    val plan = formatted("nna_find_global_max")
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("IVF cell assignment is one projection: no Exchange above the scan") {
    // the crossJoin+window formulation this replaced shuffled N×nlist rows;
    // assignment must stay scan → project(nearestcentroids) with no
    // exchange, window, or join in the plan at all
    val emb = graft.core.Tables.embeddings(spark, dir)
    val cents = graft.pipeline.Similarity.centroids(emb, 16)
    val plan = graft.pipeline.Similarity.ivfAssign(emb, cents)
      .queryExecution.executedPlan.toString
    assert(plan.contains("nearestcentroids"))
    assert(!plan.contains("Exchange") && !plan.contains("Window") &&
      !plan.contains("Join"))
  }

  test("PQ encode is one projection: no Exchange above the scan") {
    // the codebooks ride inside the codegen'd PqCodes expression; corpus
    // compression must be scan → project, with no join against a codebook
    // table and no per-subspace window
    val emb = graft.core.Tables.embeddings(spark, dir)
    val cbs = graft.pipeline.Similarity.pqCodebooks(emb, 8, 16)
    val plan = graft.pipeline.Similarity.pqEncode(emb, cbs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("pqcodes"))
    assert(!plan.contains("Exchange") && !plan.contains("Window") &&
      !plan.contains("Join"))
  }

  test("pii scrub is scan-parallel: no exchange, no join, no window") {
    // detection + redaction are regex column expressions — the whole
    // operator must stay one projection over the scan; any Exchange here
    // means a 100 TB scrub started moving the corpus
    val plan = formatted("text_pii_scrub")
    assert(!plan.contains("Exchange") && !plan.contains("Join") &&
      !plan.contains("Window"), s"pii scrub plan moved data:\n$plan")
  }

  test("tfidf argmax: corpus-sized tf/df join stays shuffled-hash") {
    val plan = formatted("text_tfidf_top")
    assert(plan.contains("ShuffledHashJoin"),
      s"tf/df join must not sort-merge or broadcast a corpus table:\n$plan")
  }

  test("quota ancestry: zero-shuffle expression when small, join past the gate") {
    val inodes = graft.inodes.InodeView.snapshot(spark, dir)
    // small quota-dir set → the whole check is a codegen'd filter over the
    // snapshot: NO join, NO exchange anywhere in the plan
    val smallFull = graft.engine.PathStructure.underQuota(inodes, "nsQuota")
      .queryExecution.executedPlan.toString
    // judge the plan ABOVE the snapshot cache scan: the InMemoryRelation
    // string embeds the original derivation (which legitimately shuffles)
    val small = smallFull.split("InMemoryRelation")(0)
    assert(small.toLowerCase.contains("pathunderset"))
    assert(!small.contains("Join") && !small.contains("Exchange"),
      s"small case must be join- and shuffle-free:\n$small")
    // past the gate: set-at-a-time explode + semi-join, no broadcast hint
    // (the driver must never materialize an unbounded dir set)
    val big = graft.engine.PathStructure
      .underQuota(inodes, "nsQuota", broadcastMaxRows = 1)
      .queryExecution.executedPlan.toString
    assert(big.contains("Join"), s"big case must fall back to the join:\n$big")
    assert(!big.toLowerCase.contains("pathunderset"))
  }

  test("bucketed namespace: key-matched aggregation runs with no exchange") {
    val inodes = graft.inodes.InodeView.snapshot(spark, dir)
    graft.api.Namespace.saveBucketed(inodes, "inodes_bucketed", "parent", 8)
    try {
      val t = spark.table("inodes_bucketed")
      val agg = t.groupBy("parent").count()
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed groupBy(parent) should not shuffle:\n$plan")
      // same results as the unbucketed aggregation
      val expect = inodes.groupBy("parent").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = agg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === expect)
    } finally spark.sql("DROP TABLE IF EXISTS inodes_bucketed")
  }

  test("vector expressions stay inside whole-stage codegen") {
    val emb = graft.core.Tables.embeddings(spark, dir)
    val cents = graft.pipeline.Similarity.centroids(emb, 4)
    val p1 = graft.pipeline.Similarity.ivfAssign(emb, cents)
      .queryExecution.executedPlan.toString
    assert(p1.startsWith("*(1)")) // WholeStageCodegen stage prefix
    val p2 = emb.select(graft.functions.LshBuckets.lsh_buckets(
        org.apache.spark.sql.functions.col("embedding"), 4, 2))
      .queryExecution.executedPlan.toString
    assert(p2.startsWith("*(1)"))
  }

  test("pack bins: offsets join broadcasts, corpus never sorts globally") {
    import org.apache.spark.sql.functions.col
    val df = graft.pipeline.Curation.packBins(
      graft.core.Tables.documents(spark, dir), col("doc_id"), col("text"), 512L)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket offsets must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("token budget: corpus cumsum partitions by score bucket, offsets " +
      "broadcast — no global sort of the corpus") {
    import org.apache.spark.sql.functions.col
    val df = graft.pipeline.Curation.tokenBudgetSelect(
      graft.core.Tables.documents(spark, dir), col("doc_id"), col("text"),
      14000L)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("hashpartitioning(__b"),
      s"the corpus window must partition by score bucket:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      "the nBuckets-row offset table must broadcast")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("bloom prefilter runs at the scan: no exchange, no join below it") {
    import org.apache.spark.sql.functions.{col, explode}
    val docs = graft.core.Tables.documents(spark, dir)
    val grams = docs
      .select(col("doc_id"), explode(
        graft.pipeline.Dedup.shingles(col("text"), 5)).as("g"))
      .select(col("doc_id"), graft.pipeline.Dedup.portableHash(col("g")).as("gh"))
    val words = graft.pipeline.Curation.bloomWords(Array(12345L, 987654321L))
    val cand = grams.where(
      graft.pipeline.Curation.bloomMightContain(words, col("gh")))
    val plan = cand.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bloom bit test must not shuffle:\n$plan")
    assert(!plan.contains("Join"), "bloom bit test must be a filter, not a join")
  }

  test("repeated n-grams: corpus-sized join sides stay shuffled-hash") {
    import org.apache.spark.sql.functions.col
    val df = graft.pipeline.Curation.repeatedNgramStats(
      graft.core.Tables.documents(spark, dir), "doc_id", col("text"), 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"gram-count join-back must honor the shuffle_hash hint:\n$plan")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("range join runs as an equi-join, never BroadcastNestedLoop") {
    val df = PipelineQueries.queries("events_range_join")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"bucketized range join must not plan as a nested loop:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"bucket equi-join must honor the shuffle_hash hint:\n$plan")
  }

  test("ivfpq rerank: the exact-refine tail broadcasts, corpus never shuffles for it") {
    val emb = core.Tables.embeddings(spark, dir)
    val q = emb.where(org.apache.spark.sql.functions.col("vec_id") < 5)
    val plain = graft.pipeline.Similarity.ivfPqTopK(q, emb, 25,
      nlist = 16, nprobe = 8, m = 8, ksub = 16)
      .queryExecution.executedPlan.toString
    val plan = graft.pipeline.Similarity.ivfPqRerankTopK(q, emb, 5,
      rerankC = 25, nlist = 16, nprobe = 8, m = 8, ksub = 16)
      .queryExecution.executedPlan.toString
    // the candidate and query sides join the full-vector corpus scan via
    // broadcast — any shuffled join (SortMerge OR ShuffledHash) in the
    // refine tail means the corpus started moving at 100 TB. ivfPqTopK
    // has broadcasts of its own, so require the rerank plan to add ≥ 2
    // ON TOP of the plain plan's count rather than just "some broadcasts"
    def bhj(p: String) = "BroadcastHashJoin".r.findAllIn(p).size
    def shuffled(p: String) =
      p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
    assert(!shuffled(plain), s"plain ivfpq plan shuffled a join:\n$plain")
    assert(!shuffled(plan), s"refine tail must not shuffle the corpus:\n$plan")
    assert(bhj(plan) >= bhj(plain) + 2,
      s"refine joins must broadcast the bounded candidate/query sides " +
        s"(plain=${bhj(plain)}, rerank=${bhj(plan)}):\n$plan")
  }

  test("top directories: prefix projection — no ancestor explode, top-k " +
    "is TakeOrdered") {
    freshSnapshot()
    val plan = formatted("nna_top_directories")
    val head = plan.substring(0, plan.indexOf("InMemoryRelation"))
    assert(!head.contains("Generate"), // explode would multiply rows ~8-20×
      s"top directories must not explode ancestors:\n$head")
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("domain cap: no full-corpus single-partition-per-source sort") {
    val df = PipelineQueries.queries("corpus_domain_cap")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // Phase-1 rank must partition by (source, salt) — a hot source spreads
    // over `salts` sorts. The only Window allowed to partition by source
    // alone is phase 2, which sees ≤ cap·salts rows per source (its input
    // is the __rk1 <= cap filter, visible as a Filter above the salted
    // Window in the same plan).
    val windows = "Window \\[".r.findAllIn(plan).size
    assert(windows === 2, s"expected the two-phase ranks, got $windows:\n$plan")
    val salted = plan.linesIterator
      .filter(l => l.contains("Window") && l.contains("windowspecdefinition"))
      .toSeq
    assert(salted.exists(l => l.contains("source") && l.contains("__s")),
      s"phase-1 window must partition by (source, __s):\n$plan")
  }

  test("retention matrix: no cohort self-join, two exchanges total") {
    val df = PipelineQueries.queries("events_retention")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      s"cohort assignment must ride the collect_set aggregate, not a join:\n$plan")
    // corpus shuffle on user_id + the (users × weeks)-sized cell shuffle
    assert("Exchange".r.findAllIn(plan).size <= 2,
      s"retention must shuffle the corpus exactly once:\n$plan")
  }

  test("trend: history + regression is two partial+final aggregations, " +
       "no join, no window") {
    freshSnapshot()
    val plan = formatted("nna_trend_per_user")
    // judge only the plan above the cached snapshot scan
    val afterScan = plan.substring(0, plan.indexOf("InMemoryTableScan"))
    assert(!afterScan.contains("Join") && !afterScan.contains("Window"),
      s"trend must be pure aggregation:\n$afterScan")
    // namespace→history collapses map-side (cycles×users rows through the
    // wire), history→trend is history-sized; anything beyond these two
    // exchanges means a lost partial agg
    assert("Exchange".r.findAllIn(afterScan).size === 2,
      s"trend must shuffle exactly twice (history, then per-key):\n$afterScan")
    assert("HashAggregate".r.findAllIn(afterScan).size === 4,
      s"both aggregations must be partial+final:\n$afterScan")
  }

  test("semdedup: cell self-join stays shuffled-hash; corpus never " +
       "broadcasts") {
    val df = PipelineQueries.queries("emb_semdedup_drops")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    // the only broadcasts allowed are the nlist-row centroid table (it
    // appears once per self-join side): every BroadcastExchange must feed
    // from a LocalTableScan, never from the parquet corpus
    val lines = plan.linesIterator.toSeq
    lines.zipWithIndex.filter(_._1.contains("BroadcastExchange")).foreach {
      case (_, i) =>
        val below = lines.drop(i + 1).take(2).mkString("\n")
        assert(below.contains("LocalTableScan"),
          s"corpus-sized broadcast at line $i:\n$plan")
    }
    assert(plan.contains("ShuffledHashJoin"),
      s"the within-cell pair join must be shuffled-hash:\n$plan")
    assert(!plan.contains("BroadcastNestedLoop"),
      s"no cross product anywhere in semdedup:\n$plan")
  }

  test("edit-log apply: small segment broadcasts, namespace never " +
       "shuffles; structural ops add no exchange") {
    val df = IngestQueries.queries("nna_editlog_apply")(spark, dir)
    val full = df.queryExecution.executedPlan.toString
    // judge the APPLY layer only: everything above the cached snapshot
    // leaves (the InMemoryRelation carries its own ingest build plan,
    // whose quota join is a different operator's concern)
    val plan = full.linesIterator
      .takeWhile(!_.contains("InMemoryRelation")).mkString("\n")
    // a bounded segment (the common tailing case) must join its creation
    // and patch frames into the snapshot via broadcast — any shuffled
    // join means the NAMESPACE re-partitioned per chunk, which at 1e9
    // inodes × k chunks is the cost the chunked design exists to avoid
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"edit-log chunk joins must broadcast the ops side:\n$plan")
    assert(!plan.contains("BroadcastNestedLoop"),
      s"no cross product in edit-log apply:\n$plan")
    // rename/delete are pure projections/filters over the snapshot: the
    // only hash exchanges above the scan are ops-sided (patch groupBy /
    // creation groupBy per chunk). The fixture's 3 structural ops split
    // 4 chunks ⇒ at most 8 small ops-sided exchanges; a single
    // namespace-sided exchange per structural op would push past that
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 8,
      s"structural ops must not repartition the namespace " +
        s"($exchanges hash exchanges):\n$plan")
  }

  test("range-join optimizer rule: the naive BETWEEN query plans as an equi-join") {
    val plan = formatted("events_range_join_rule")
    // the main branch is the bucketized equi-join; the whale fallback
    // branch (runtime-empty, AQE-eliminated) is the one place a
    // nested-loop may remain
    assert(plan.contains("__graft_bucket"),
      s"expected the bucket equi-key:\n$plan")
    assert("\\(\\d+\\) BroadcastNestedLoop".r.findAllIn(plan).size <= 1,
      s"only the whale fallback branch may nest-loop:\n$plan")
    assert(plan.contains("Generate"),
      s"expected the interval bucket explode:\n$plan")
  }

  test("overlap-join optimizer rule: the naive query plans as an equi-join") {
    val plan = formatted("events_overlap_join_rule")
    assert(plan.contains("__graft_bucket"),
      s"expected the bucket equi-key:\n$plan")
    assert("\\(\\d+\\) BroadcastNestedLoop".r.findAllIn(plan).size <= 2,
      s"only the whale fallback branches may nest-loop:\n$plan")
    assert("\\(\\d+\\) Generate".r.findAllIn(plan).size === 2,
      s"expected BOTH sides' bucket explodes:\n$plan")
  }

  test("q2: correlated min decorrelates to one aggregate + equi joins") {
    val plan = formatted("q2_min_cost_supplier")
    // the per-part min is ONE aggregate joined back on (part, cost) — a
    // plan that re-correlated (per-row subquery, cartesian, or nested
    // loop) dies at real part cardinality; every side is unhinted and
    // SF-linear, so the STRATEGY per join is AQE's
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), s"no re-correlation:\n$plan")
    assert(equiJoins(plan) >= 4,
      s"dim chain + min join-back must all be equi joins:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(p_size), EqualTo(p_size,15)"),
      s"part filter must reach the scan:\n$plan")
  }

  test("q13: the outer join that keeps zero-order customers is preserved") {
    val plan = formatted("q13_order_distribution")
    assert(plan.contains("LeftOuter"),
      s"customers without orders must survive (LEFT OUTER):\n$plan")
    assert("\\(\\d+\\) HashAggregate".r.findAllIn(plan).size >= 4,
      s"expected the two cascaded (partial+final) aggregations:\n$plan")
  }

  test("q21: exists/not-exists stay semi/anti hash joins") {
    val plan = formatted("q21_waiting_supplier")
    assert(plan.contains("LeftSemi"), s"EXISTS must be a semi join:\n$plan")
    assert(plan.contains("LeftAnti"), s"NOT EXISTS must be an anti join:\n$plan")
    assert(!plan.contains("Deduplicate") && !plan.contains("CartesianProduct"),
      s"no distinct-rewrite, no cartesian:\n$plan")
  }

  test("as-of joins: no unbounded-FOLLOWING window frames anywhere") {
    // Spark evaluates (currentRow, unboundedFollowing) frames by
    // re-scanning current..end for EVERY row — O(partition^2) on a
    // skewed key (the nearest as-of shipped with one: 10.4 s -> 2.0 s at
    // 10M once mirrored to a desc-sorted PRECEDING frame). Pin the whole
    // trio + the bucketed variant against regression.
    for (q <- Seq("events_asof_join", "events_asof_forward",
        "events_asof_nearest", "events_asof_bucketed")) {
      val plan = formatted(q)
      assert(!plan.toLowerCase.contains("unboundedfollowing"),
        s"$q reintroduced an unbounded-following frame:\n$plan")
    }
  }

  test("q8: region membership is a semi join; all joins stay equi") {
    val plan = formatted("q8_market_share")
    assert(plan.contains("LeftSemi"),
      s"region customers must gate as a semi join:\n$plan")
    assert(equiJoins(plan) >= 2,
      s"orders + supplier-nation must ride equi joins:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), s"no cartesian:\n$plan")
  }

  test("q11/q20: scalar HAVING rides a 1-row broadcast; chain stays semi joins") {
    val p11 = formatted("q11_value_concentration")
    // the total is ONE row cross-joined broadcast — the quadratic shape
    // would be a per-group subquery re-aggregation
    assert(p11.contains("LeftSemi") && !p11.contains("CartesianProduct"),
      s"supplier gate semi, no cartesian:\n$p11")
    val p20 = formatted("q20_part_supplier_chain")
    assert("LeftSemi".r.findAllIn(p20).size >= 2,
      s"both EXISTS levels must stay semi joins:\n$p20")
    assert(!p20.contains("CartesianProduct") &&
      !p20.contains("Deduplicate"), s"no distinct-rewrite:\n$p20")
  }

  test("q12/q14: shipdate windows reach the parquet scan") {
    for (q <- Seq("q12_priority_class", "q14_promo_revenue")) {
      val plan = formatted(q)
      assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
        s"$q: date window must push into the scan:\n$plan")
    }
  }

  test("q15: the scalar max joins back broadcast, no re-sort of the agg") {
    val plan = formatted("q15_top_supplier")
    assert(plan.contains("BroadcastHashJoin"),
      s"max-rev must broadcast back:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("(\\d+) Sort"),
      s"no global sort to find the max:\n$plan")
  }

  test("q17: correlated per-part avg is ONE aggregate, joined back equi") {
    val plan = formatted("q17_small_quantity")
    assert(equiJoins(plan) >= 2,
      s"brand dim and the per-part stats must join equi:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"),
      s"the avg subquery must not re-correlate:\n$plan")
  }

  test("q19: the disjunctive predicate rides ONE equi join as residual") {
    val plan = formatted("q19_disjunctive")
    assert(equiJoins(plan) >= 1,
      s"the equi key must keep the OR out of nested-loop land:\n$plan")
    assert(!plan.contains("BroadcastNestedLoop") &&
      !plan.contains("CartesianProduct"), s"no nested loop:\n$plan")
  }

  test("q22: dormant check is an ANTI join; the avg a 1-row broadcast") {
    val plan = formatted("q22_lost_customers")
    assert(plan.contains("LeftAnti"), s"NOT EXISTS → anti join:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate)"),
      s"the recent-order filter must reach the orders scan:\n$plan")
  }

  test("q4: existence check is a LEFT SEMI join, no distinct after") {
    val plan = formatted("q4_slow_orders")
    assert(plan.contains("LeftSemi"), s"expected a semi join:\n$plan")
    // semi join already emits each order once — a post-join distinct
    // aggregation would mean the plan regressed to inner + dedup
    assert(!plan.contains("Deduplicate"), s"no dedup after the semi:\n$plan")
  }

  test("q10: equi joins only; top-20 is TakeOrdered") {
    val plan = formatted("q10_returned_customers")
    assert(equiJoins(plan) >= 2,
      s"orders+customer must ride equi joins:\n$plan")
    assert(!plan.contains("BroadcastNestedLoop") &&
      !plan.contains("CartesianProduct"), s"no nested loop:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-20 must short-circuit, not globally sort:\n$plan")
  }

  test("twa: phase-1 window partitions by (type, day-bucket), never type alone") {
    val plan = formatted("events_twa")
    val windows = "\\(\\d+\\) Window".r.findAllIn(plan).size
    assert(windows === 2, s"expected the two-phase window pair:\n$plan")
    // the events-sized window must include the day bucket in its
    // partition spec — partitioning by event_type alone is the
    // corpus-sized-partition scale killer the two-phase shape exists
    // to avoid
    val firstWindowArgs = plan.linesIterator
      .dropWhile(!_.contains("windowspecdefinition"))
      .take(1).mkString
    assert(firstWindowArgs.contains("bkt"),
      s"phase-1 window lost the bucket key:\n$firstWindowArgs")
  }

  test("native sessionization runs in the session-merging aggregate, not a window") {
    val plan = formatted("events_sessions_native")
    assert(plan.contains("MergingSessions"),
      s"expected the MergingSessions operator:\n$plan")
    assert("\\(\\d+\\) Window".r.findAllIn(plan).isEmpty, // no lag window pass
      s"session_window path must not fall back to WindowExec:\n$plan")
    assert(plan.contains("partial_count"), // map-side partial aggregation
      s"partial aggregation lost:\n$plan")
  }

  test("first-touch: partial min(struct) aggregation, no window, no row_number") {
    val plan = formatted("events_first_touch")
    assert(plan.contains("partial_min(struct"),
      s"map-side partial min(struct) lost:\n$plan")
    assert("\\(\\d+\\) Window".r.findAllIn(plan).isEmpty,
      s"first-touch must not sort full user histories in a window:\n$plan")
  }

  test("rollup census: ONE Expand feeds one partial+final aggregation") {
    val plan = formatted("events_rollup")
    assert("\\(\\d+\\) Expand".r.findAllIn(plan).size === 1,
      s"rollup must expand once:\n$plan")
    assert("\\(\\d+\\) Exchange".r.findAllIn(plan).size === 1,
      s"rollup is one exchange:\n$plan")
  }

  test("anti-join audience: distinct reduction below the LeftAnti join") {
    val plan = formatted("events_purchasers_no_error")
    assert(plan.contains("LeftAnti"), s"expected a left-anti join:\n$plan")
    // the build side must be the DEDUPED user set (HashAggregate below
    // the broadcast), not raw events
    val buildSide = plan.linesIterator
      .dropWhile(!_.contains("BroadcastExchange")).take(4).mkString("\n")
    assert(buildSide.contains("HashAggregate"),
      s"anti-join build side must be distinct-reduced:\n$plan")
  }

  test("profiler: one scan, aggregation before the generate") {
    val plan = formatted("profile_lineitem")
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(plan).size === 1,
      s"profiler must scan once:\n$plan")
    // stack() (Generate) must run on the 1-row aggregate, i.e. appear
    // ABOVE the final HashAggregate in the operator listing
    assert(plan.indexOf("Generate") < plan.indexOf("HashAggregate"),
      s"stack must sit above the aggregate:\n$plan")
  }

  test("broadcast hygiene: no forced broadcast of an SF-linear frame " +
       "anywhere in the TPC-H suite") {
    // A broadcast() hint pins the build side into driver+executor memory
    // regardless of runtime size. Frames derived from customer, orders,
    // lineitem, part, or supplier scale linearly with SF — at 100 TB a
    // pinned broadcast of one is a driver OOM. The ONLY hinted frames
    // allowed are (a) constant dims (nation: 25 rows, region: 5), (b)
    // 1-row global aggregates (scalar HAVING / max-back joins), or (c)
    // a HAVING-bounded aggregate (q18's qty>300 whales). AQE sizes
    // everything else at runtime — it broadcasts small sides anyway,
    // but can fall back to a shuffled join when the side outgrows it.
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, Filter, LogicalPlan, ResolvedHint}
    val sfLinear = "(customer|orders|lineitem|part|supplier)\\.parquet".r
    def bounded(p: LogicalPlan): Boolean = {
      if (sfLinear.findFirstIn(p.toString).isEmpty) true // nation/region
      else {
        val globalAgg = p.collectFirst {
          case a: Aggregate if a.groupingExpressions.isEmpty => a }.isDefined
        val havingAgg = p.collectFirst {
          case Filter(_, _: Aggregate) => () }.isDefined
        globalAgg || havingAgg
      }
    }
    val tpch = SparkEntry.queries.keys.filter(_.matches("q\\d+_.*")).toSeq
    assert(tpch.size === 22, s"expected the 22-query suite, got $tpch")
    for (q <- tpch.sorted) {
      val analyzed =
        SparkEntry.queries(q)(spark, dir).queryExecution.analyzed
      analyzed.foreach {
        case h: ResolvedHint =>
          assert(bounded(h.child),
            s"$q force-broadcasts an SF-linear frame:\n${h.child}")
        case _ =>
      }
    }
  }

  test("profile_join_cardinality: fact rows never join — both join " +
      "inputs are aggregates") {
    // the whole point of the pre-flight: it must be CHEAPER than the
    // join it sizes. Each side reduces to (key, count) before the join,
    // so the join moves |keys| rows, not |facts|.
    val plan = formatted("profile_join_cardinality")
    val joinAt = plan.linesIterator.indexWhere(_.contains("SortMergeJoin"))
    val tree = plan.linesIterator.toSeq
    if (joinAt >= 0) {
      // in the tree section, every scan feeds a HashAggregate BELOW the
      // join — equivalently, the join's two input subtrees each contain
      // an aggregate. Cheap structural check: the tree shows 4+
      // HashAggregates (partial+final per side) before any join output
      val treeSection = tree.takeWhile(l => !l.startsWith("(1) Scan"))
      val aggs = treeSection.count(_.contains("HashAggregate"))
      assert(aggs >= 4, s"expected per-side partial+final aggs:\n$plan")
    }
    // and the final global scalar agg sums ~|keys| rows, no Generate
    assert(!plan.contains("Generate"), "no explode in the estimator")
    assert(!plan.contains("CartesianProduct"))
  }

  test("profile_join_advice: every analyzed pair stays aggregate-space " +
      "— no raw-row join, no explode, 1-row stat frames cross-join " +
      "broadcast") {
    val plan = formatted("profile_join_advice")
    // per pair: two per-key count tables join (|keys| rows), their
    // 1-row side stats combine via broadcast nested loop; a SortMergeJoin
    // would mean a fact-row table reached a join unaggregated
    assert(!plan.contains("Generate"), "no explode in the advisor")
    assert(!plan.contains("CartesianProduct"))
    // the (key,count) ⋈ (key,count) joins are fed by aggregates: the
    // tree shows at least 4 HashAggregates per pair × 3 pairs
    val tree = plan.linesIterator.takeWhile(l => !l.startsWith("(1) Scan"))
      .toSeq
    assert(tree.count(_.contains("HashAggregate")) >= 12,
      s"per-side partial+final aggs must feed every pair's key join:\n$plan")
  }

  test("profile_key_skew: one partial-agg shuffle; global scalars ride " +
      "a broadcast, facts never join") {
    val plan = formatted("profile_key_skew")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"1-row global aggregate must broadcast:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-10 must short-circuit, not global-sort")
    assert(!plan.contains("SortMergeJoin"),
      "nothing in this profile justifies a shuffled join")
  }

  test("profile_corpus_drift: one scan feeds both features; per-feature " +
      "totals broadcast; the TVD window partitions by feature") {
    val plan = formatted("profile_corpus_drift")
    // both features ride ONE explode over ONE documents scan
    assert("""\(\d+\) Scan parquet""".r.findAllIn(plan).size === 1,
      s"expected a single documents scan:\n$plan")
    assert(!plan.contains("Join"),
      "totals derive from windows over the counts frame, never a " +
        "self-join that would re-scan the corpus")
    assert(plan.contains("Window"),
      "per-feature totals + TVD ride windows")
  }

  test("text_bm25_topk: no inverted index — scoring is a projection " +
      "over the checkpointed per-doc frame; stats broadcast; " +
      "top-k short-circuits") {
    val plan = formatted("text_bm25_topk")
    // the corpus is tokenized ONCE into a narrow per-doc frame
    // (doc_id, dl, per-term tf) — both the stats aggregate and the
    // scoring pass must read that checkpoint, never re-scan parquet
    assert(!plan.contains("Scan parquet"),
      s"all derivations must read the checkpointed per-doc frame:\n$plan")
    assert("""\(\d+\) Generate""".r.findAllIn(plan).isEmpty,
      "per-term tf comes from higher-order array functions — no explode")
    // the ONLY shuffle at any corpus size is the 1-row stats aggregate:
    // no (doc,term) index build, no corpus-sized exchange
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(plan).toSeq
    assert(exchanges.size <= 1 && plan.contains("SinglePartition"),
      s"expected only the 1-row stats agg exchange, got $exchanges:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-10 must short-circuit, not global-sort")
    assert(plan.contains("BroadcastExchange"),
      "the 1-row corpus stats (n, total_len, dfs) must broadcast")
    assert(!plan.contains("CartesianProduct"),
      "the 1-row stats cross join must be a broadcast nested loop")
  }

  test("events_distinct_sketch: two sketch aggregations, no join, " +
      "no explode — partials ride ObjectHashAggregate") {
    val plan = formatted("events_distinct_sketch")
    assert(plan.contains("ObjectHashAggregate"),
      s"sketch aggs are TypedImperative — ObjectHashAggregate:\n$plan")
    assert(equiJoins(plan) == 0 && !plan.contains("CartesianProduct"),
      s"build + merge is pure aggregation, never a join:\n$plan")
    assert("""\(\d+\) Generate""".r.findAllIn(plan).isEmpty,
      "no explode anywhere — the sketch IS the aggregation state")
    // (day,type) build + type merge + output sort = at most 3 exchanges;
    // every one carries segment-sized sketch rows, never raw events
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(plan).size
    assert(exchanges <= 3, s"expected <=3 exchanges, got $exchanges:\n$plan")
  }

  test("events_retention_sketch: serving self-joins the CHECKPOINTED " +
      "segment table — raw rows never feed the join") {
    val plan = formatted("events_retention_sketch")
    // the compacted sketch table is materialized once; both join sides
    // read it (ExistingRDD), so no parquet scan appears in the serving plan
    assert(!plan.contains("Scan parquet"),
      s"join sides must read the checkpointed sketch table:\n$plan")
    val joins = """\(\d+\) (BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin)"""
      .r.findAllIn(plan).size
    assert(joins == 1 && !plan.contains("CartesianProduct"),
      s"exactly one segments-sized equi self-join, got $joins:\n$plan")
  }

  test("retrieval_bm25_indexed: probe never re-shuffles the postings — " +
      "df and stats broadcast, top-k short-circuits") {
    val plan = formatted("retrieval_bm25_indexed")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-10 must short-circuit:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      "1-row stats join must broadcast, never cartesian")
    assert("""BroadcastExchange""".r.findAllIn(plan).size >= 2,
      s"per-term df and 1-row stats must both broadcast:\n$plan")
  }

  test("tombstone anti-joins execute as broadcast on all three index " +
      "delete doors (an SMJ/SHJ anti would shuffle the whole index)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.functions._
    def antiJoins(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => antiJoins(a.executedPlan)
      case q: QueryStageExec => antiJoins(q.plan)
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.joinType.toString == "LeftAnti" =>
        j.getClass.getSimpleName +: j.children.flatMap(antiJoins)
      case o => o.children.flatMap(antiJoins)
    }
    def pinned(df: org.apache.spark.sql.DataFrame, what: String): Unit = {
      df.collect()
      val kinds = antiJoins(df.queryExecution.executedPlan)
      assert(kinds.nonEmpty, s"$what: no anti-join in the plan")
      assert(kinds.forall(_ == "BroadcastHashJoinExec"),
        s"$what: tombstone anti-join lost the broadcast: $kinds")
    }
    val docs = core.Tables.documents(spark, dir)
    val (p, _) = graft.pipeline.Bm25Index.build(
      docs, col("doc_id"), col("text"), 64)
    pinned(graft.pipeline.Bm25Index.applyTombstones(
      p, docs.where(col("doc_id") % 7 === 0).select(col("doc_id"))), "bm25")
    val emb = core.Tables.embeddings(spark, dir)
    val cents = graft.pipeline.Similarity.centroids(emb, 16)
    pinned(graft.pipeline.Similarity.ivfApplyTombstones(
      graft.pipeline.Similarity.ivfAssign(emb, cents),
      emb.where(col("vec_id") % 7 === 0).select(col("vec_id").as("nid"))),
      "ivf")
    val sigs = graft.pipeline.Dedup.minhashSignatures(
      docs.limit(200), "doc_id", col("text"), 3, 64)
    pinned(graft.pipeline.Dedup.removeFromIndex(
      sigs, docs.where(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("did"))), "dedup")
    // the generation-versioned door: the gen bound rides as a join
    // CONDITION on the same doc_id equi-key — it must not demote the
    // broadcast hash anti-join to a shuffle or a nested loop
    pinned(graft.pipeline.Bm25Index.applyGenTombstones(
      graft.pipeline.Bm25Index.stampGen(p, 0L),
      graft.pipeline.Bm25Index.genTombstones(
        docs.where(col("doc_id") % 7 === 0), col("doc_id"), 0L)),
      "bm25-gen")
    pinned(graft.pipeline.Similarity.ivfApplyGenTombstones(
      graft.pipeline.Similarity.ivfStampGen(
        graft.pipeline.Similarity.ivfAssign(emb, cents), 0L),
      graft.pipeline.Similarity.ivfGenTombstones(
        emb.where(col("vec_id") % 7 === 0), col("vec_id"), 0L)),
      "ivf-gen")
  }

  test("compactNeeded calibration: the 64 B/row broadcast estimate " +
      "brackets the MEASURED anti-join build size within 2x across " +
      "tombstone cardinalities") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{
      BroadcastExchangeExec, ReusedExchangeExec}
    import org.apache.spark.sql.functions._
    def bexSizes(p: SparkPlan): Seq[Long] = p match {
      case a: AdaptiveSparkPlanExec => bexSizes(a.executedPlan)
      case q: QueryStageExec => bexSizes(q.plan)
      case b: BroadcastExchangeExec =>
        b.metrics.get("dataSize").map(_.value).toSeq ++
          b.children.flatMap(bexSizes)
      case r: ReusedExchangeExec => bexSizes(r.child)
      case o => o.children.flatMap(bexSizes)
    }
    val docs = core.Tables.documents(spark, dir)
    val (p, _) = graft.pipeline.Bm25Index.build(
      docs, col("doc_id"), col("text"), 64)
    val measured = for (k <- Seq(1000L, 4000L, 16000L)) yield {
      // scattered ids beyond the fixture corpus: real tombstone sets
      // are sparse in id space (LongHashedRelation's worst layout), and
      // the anti-join keeps every posting (a fully-tombstoned corpus
      // lets AQE replace the final plan with an EmptyRelation and drop
      // the exchange whose metric this test reads)
      val tombs = spark.range(k).select(
        (pmod(col("id") * 2654435761L, lit(1000000000L)) + 10000000L)
          .as("doc_id"))
      val probe = graft.pipeline.Bm25Index.applyTombstones(p, tombs)
      probe.collect()
      val sizes = bexSizes(probe.queryExecution.executedPlan)
      assert(sizes.nonEmpty, "no broadcast exchange in the probe plan:\n" +
        probe.queryExecution.executedPlan.toString)
      (k, sizes.max, sizes.max.toDouble / k)
    }
    // compactNeeded estimates |tombstones| x 64 B against the 10 MB
    // comfort line. The MARGINAL bytes/row (the slope between
    // cardinalities — the exchange's dataSize carries a ~1 MB base
    // allocation that amortizes away at trigger-relevant sizes) must
    // stay within 2x of the estimate either way: too low fires the
    // compaction late (the broadcast outgrows comfort unseen), too
    // high fires corpus-sized rewrites an order of magnitude early.
    // Measured (sparse long keys): ~32.8 B/row marginal + ~1.05 MB
    // base; dense keys drop to ~8 B/row. 64 B/row brackets the sparse
    // marginal at 1.95x, and the unmodeled base only errs EARLY (the
    // safe side). Recorded in SCALING.md's compaction-trigger note.
    val slopes = measured.sliding(2).map { case Seq((k1, b1, _), (k2, b2, _)) =>
      (b2 - b1).toDouble / (k2 - k1)
    }.toSeq
    slopes.foreach { s =>
      assert(s <= 64.0 * 2 && 64.0 <= s * 2,
        s"marginal $s B/row vs the 64 B/row estimate (off by more " +
          s"than 2x); all=$measured slopes=$slopes")
    }
  }

  test("layout code queries: scans read exactly the two key columns") {
    for (q <- Seq("layout_zorder_code", "layout_hilbert_code")) {
      val plan = formatted(q)
      val readSchema = plan.linesIterator
        .find(_.trim.startsWith("ReadSchema:")).get
      assert(readSchema.contains("l_partkey") &&
        readSchema.contains("l_suppkey"), s"$q: $readSchema")
      assert(!readSchema.contains("l_extendedprice") &&
        !readSchema.contains("l_orderkey"), s"$q reads extra columns")
    }
  }
}
