package graft

import org.apache.spark.sql.functions._

/** Scale-stress bench beyond the registry fixtures (5k docs / 500 vectors):
  * synthesizes a deterministic corpus with PLANTED near-duplicates and a
  * deterministic embedding set, then times the core pipeline operators and
  * checks the plants are found. Two more stage families close the run:
  * `fixture10x_*` (the heavy store fixture queries over a 10× copy of
  * `$SPARK_GRAFT_SF_DIR`; skipped when it is unset) and
  * `ingest_{oiv,oivxml,oivbin}_*` (the fsimage front doors over dumps the
  * `tools/` generators write; skipped when a dump is absent).
  *
  * `SPARK_GRAFT_CPUS=8 sbt "runMain graft.ScaleBench <nDocs> <nVecs>
  * [stage,…]"` (defaults 100k / 100k; the third argument runs only the
  * stages whose names contain one of the comma-separated substrings). Each
  * stage prints one `SCALEBENCH <stage> <seconds> s (<result>)` line; the
  * stages under [[SparkActivity]] add shuffle, input or longest-task
  * figures. Runs on [[Sessions.local]], so `SPARK_GRAFT_CPUS` picks the
  * core count; SCALING.md records the 8- and 32-core numbers.
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(100000)
    val nVecs = args.drop(1).headOption.map(_.toInt).getOrElse(100000)
    // optional 3rd arg: comma-separated stage-name substrings to run alone
    // (probing one stage at scale without paying for the whole suite)
    val only: String => Boolean = args.drop(2).headOption match {
      case Some(pats) => { val ps = pats.split(','); n => ps.exists(n.contains) }
      case None => _ => true
    }
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    spark.range(2000000).selectExpr("sum(id * 2)").collect()

    // Operators checkpoint their corpus-sized intermediates internally
    // (exploded shingles, signature tables, survivor indexes) and a query
    // owns no teardown hook — in production each query's lifecycle ends
    // with its session, but this bench runs EVERY family in one JVM, so
    // stale checkpoints accumulate until late stages measure GC + spill
    // instead of the operator (observed at 4M: minhash wall 14× the 1M
    // value while its shuffle records stayed exactly 4×). `pin()` marks
    // the generator fixtures that must survive (docs/emb — unpersisting a
    // localCheckpoint destroys its data, lineage is truncated); `sweep()`
    // drops everything else after each stage.
    var pinned = Set.empty[Int]
    def pin(): Unit =
      pinned = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def sweep(): Unit =
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!pinned.contains(id)) rdd.unpersist(blocking = true)
      }

    /** Runs stage `name` if selected, under [[SparkActivity]], then prints
      * `SCALEBENCH <name> <seconds> s (<result>)` and `detail` of the
      * activity. */
    def t(name: String, detail: SparkActivity => String = _ => "")(
        f: => Any): Unit = if (only(name)) {
      val (r, a) = SparkActivity.measure(spark)(f)
      sweep()
      println(f"SCALEBENCH $name ${a.seconds}%.2f s ($r) ${detail(a)}".trim)
    }

    /** Like t(), plus total shuffle-write volume across the job's stages —
      * the evidence that candidate joins move (band, hash, id) tuples, not
      * documents: bytes/record stays O(tens), independent of doc size. */
    def tm(name: String)(f: => Any): Unit = t(name, { a =>
      val bpr = if (a.shuffleWriteRecords > 0)
        a.shuffleWriteBytes.toDouble / a.shuffleWriteRecords else 0.0
      f"shuffleRecords=${a.shuffleWriteRecords} " +
        f"shuffleBytes=${a.shuffleWriteBytes} bytesPerRecord=$bpr%.1f"
    })(f)

    /** Like t(), plus INPUT volume across the job's stages (records and
      * bytes read from the source) — the evidence for delta-folding
      * claims: wall time on a page-cached local box hides exactly the
      * scan cost a 100 TB metadata store charges. */
    def ti(name: String)(f: => Any): Unit = t(name, a =>
      s"inputRecords=${a.inputRecords} inputBytes=${a.inputBytes}")(f)

    // --- corpus: ~40-token docs from a power-law-ish vocab; every 100th
    // doc is a near-duplicate of its predecessor (one token changed) ---
    val words = expr(
      """transform(sequence(0, 39), j ->
           concat('w', pmod(xxhash64(id * 40 + j) % (1 + pmod(xxhash64(id, j), 3000)), 3000)))""")
    val base = spark.range(nDocs)
      .select(col("id").as("doc_id"), array_join(words, " ").as("text0"))
    val docs = base.select(col("doc_id"),
      when(col("doc_id") % 100 === 99,
        // near-dup of previous doc: same text modulo one planted token
        concat(lag_text, lit(" plantedtoken")))
        .otherwise(col("text0")).as("text"))
      .localCheckpoint(true)
    pin()

    t("corpus_count") { docs.count() }
    tm("minhash_candidates") {
      pipeline.Dedup.minhashCandidates(docs, "doc_id", col("text"))
        .where(col("est_jaccard_ppm") >= 500000).count()
    }
    t("minhash_plant_recall") {
      // ground truth: every doc with id % 100 == 99 is a near-dup of its
      // predecessor; recall = planted pairs surfacing as LSH candidates
      val found = pipeline.Dedup.minhashCandidates(docs, "doc_id", col("text"))
        .where(col("est_jaccard_ppm") >= 500000)
        .where(col("idb") === col("ida") + 1 && col("idb") % 100 === 99)
        .count()
      s"$found/${nDocs / 100} planted pairs"
    }
    t("dedup_corpus_end_to_end") {
      pipeline.Dedup.dedupCorpus(docs, "doc_id", col("text")).count()
    }
    // hyper-duplication: 5000 exact clones of doc 0 — every band bucket
    // gets a 5000-member cluster. Uncapped that is C(5000,2) ≈ 12.5M
    // pairs from ONE document (at 100k real copies: 5e9 — job-killing);
    // the cap bounds the cluster's contribution at C(cap,2) pairs.
    val hotCorpus = docs.select(col("doc_id"), col("text")).unionByName(
      docs.where(col("doc_id") === 0).select(col("text"))
        .crossJoin(spark.range(5000)
          .select((col("id") + nDocs).as("doc_id")))
        .select(col("doc_id"), col("text")))
    tm("hot_cluster_uncapped") {
      pipeline.Dedup.minhashCandidates(hotCorpus, "doc_id", col("text"))
        .where(col("est_jaccard_ppm") >= 500000).count()
    }
    tm("hot_cluster_cap8") {
      pipeline.Dedup.minhashCandidates(hotCorpus, "doc_id", col("text"),
          maxBucket = 8)
        .where(col("est_jaccard_ppm") >= 500000).count()
    }
    t("simhash_pairs") {
      pipeline.Dedup.simhashPairs(docs, "doc_id", col("text")).count()
    }

    // --- embeddings: deterministic 64-dim vectors; every 1000th is a
    // PLANTED near-dup of its predecessor (one component nudged 5e-4 →
    // cosine ≈ 0.9999) so near-dup recall is measurable, not vacuous ---
    val vecFormula =
      """transform(sequence(0, 63), j ->
           cast(pmod(xxhash64(SRC, j), 2000) as float) / 1000.0 - 1.0
             + (case when PLANT and j = 0 then cast(0.0005 as float)
                else cast(0.0 as float) end))"""
    val emb = spark.range(nVecs)
      .select(col("id").as("vec_id"),
        expr(
          s"""case when id % 1000 = 999
             then ${vecFormula.replace("SRC", "id - 1").replace("PLANT", "true")}
             else ${vecFormula.replace("SRC", "id").replace("PLANT", "false")}
             end""")
        .cast("array<float>").as("embedding"))
      .localCheckpoint(true)
    pin() // docs + emb both live from here on
    val queries = emb.where(col("vec_id") < 10)

    t("vec_count") { emb.count() }
    t("ivf_assign_nlist256") {
      val cents = pipeline.Similarity.centroids(emb, 256)
      pipeline.Similarity.ivfAssign(emb, cents).count()
    }
    t("ivf_top10_nlist256_nprobe8") {
      pipeline.Similarity.ivfTopK(queries, emb, 10, nlist = 256, nprobe = 8).count()
    }
    t("lsh_top10_banded") {
      pipeline.Similarity.lshTopK(queries, emb, 10, planes = 12, bands = 4).count()
    }
    // planes must SCALE with the corpus: with p planes a band has 2^p
    // buckets, so expected occupancy is n/2^p and the verify stage costs
    // ~n²/2^(p+1) pairs per band — at 1M vectors, 14 planes meant ~61 per
    // bucket and ~120M verified pairs (9 minutes for nothing). Target ~4
    // per bucket: p = log2(n) − 2.
    val planes = math.max(14,
      (math.log(nVecs.toDouble) / math.log(2)).ceil.toInt - 2)
    tm(s"near_dup_pairs_planes$planes") {
      pipeline.Similarity.cosineNearDupPairs(emb, 900000L,
        planes = planes, bands = 4).count()
    }
    t("near_dup_plant_recall") {
      val found = pipeline.Similarity.cosineNearDupPairs(emb, 900000L,
          planes = planes, bands = 4)
        .where(col("idb") === col("ida") + 1 && col("idb") % 1000 === 999)
        .count()
      s"$found/${nVecs / 1000} planted pairs"
    }
    // SemDeDup: nlist = √n balances assignment (n·nlist·d) against the
    // within-cell pair work (n²/nlist·d) — the paper's own lever (its
    // cluster count grows with the corpus). Evidence target: shuffle
    // records ≈ 2n + drops (the corpus crosses the wire once per
    // self-join side, carrying its vector — inherently linear); the
    // n²/nlist candidate pairs are evaluated INSIDE the join and never
    // shuffle. Planted pairs (cos ≈ 0.9999) assign to the same cell, so
    // drops ≥ plant count proves within-cell recall at scale.
    val sdNlist = math.max(16, math.sqrt(nVecs.toDouble).toInt)
    tm(s"semdedup_nlist$sdNlist") {
      val drops = pipeline.Similarity.semDeDupDrops(emb, sdNlist, 990000L)
      val n = drops.count()
      val planted = drops.where(
        col("nid") % 1000 === 999 || col("nid") % 1000 === 998).count()
      s"$n drops, $planted planted-pair members among them"
    }
    t("quantize_int8") { pipeline.Similarity.quantizeInt8(emb).count() }
    t("pq_encode_m8") {
      // corpus → m=8 codes/vector in one shuffle-free projection
      val cbs = pipeline.Similarity.pqCodebooks(emb, 8, 256)
      pipeline.Similarity.pqEncode(emb, cbs).count()
    }
    t("ivfpq_top10_nlist256_nprobe8") {
      pipeline.Similarity.ivfPqTopK(queries, emb, 10,
        nlist = 256, nprobe = 8, m = 8, ksub = 256).count()
    }
    t("ivfpq_rerank_top10_c100") {
      // exact-refine tail: only queries×100 candidate rows fetch full
      // vectors (broadcast semi-join against the corpus scan)
      pipeline.Similarity.ivfPqRerankTopK(queries, emb, 10, rerankC = 100,
        nlist = 256, nprobe = 8, m = 8, ksub = 256).count()
    }

    // --- curation operators over the same planted corpus ---
    tm("repeated_ngram_stats") {
      pipeline.Curation.repeatedNgramStats(docs, "doc_id", col("text"), 5)
        .where(col("dup_ppm") >= 500000).count()
    }
    t("repeated_ngram_plant_recall") {
      // a planted near-dup shares all but ~5 of its ~36 distinct 5-grams
      // with its source, so both ends of every planted pair must flag hot
      val hot = pipeline.Curation.repeatedNgramStats(
          docs, "doc_id", col("text"), 5)
        .where(col("dup_ppm") >= 500000)
        .where(col("did") % 100 === 99 || col("did") % 100 === 98).count()
      s"$hot/${2 * nDocs / 100} planted-pair docs flagged"
    }
    tm("winnow_pairs") {
      pipeline.Dedup.winnowPairs(docs, "doc_id", col("text")).count()
    }
    t("incremental_dedup_half_index") {
      // first half = persisted index, second half arrives as the batch
      val oldSigs = pipeline.Dedup.checkpointCorpus(
        pipeline.Dedup.minhashSignatures(
          docs.where(col("doc_id") < nDocs / 2), "doc_id", col("text"), 3, 64))
      val batch = docs.where(col("doc_id") >= nDocs / 2)
      val (kept, _) = pipeline.Dedup.incrementalDedup(
        batch, "doc_id", col("text"), oldSigs, thresholdPpm = 500000L)
      s"${kept.count()} of ${nDocs / 2} kept"
    }
    tm("dup_spans") {
      // planted near-dups share a long token prefix with their source, so
      // every planted pair contributes long duplicated spans
      pipeline.Dedup.duplicatedSpans(docs, "doc_id", col("text"), 5)
        .where(col("longest_dup_span") >= 20).count()
    }
    t("pack_bins_2048") {
      val bins = pipeline.Curation.packBins(
        docs, col("doc_id"), col("text"), 2048L)
      bins.count()
    }
    tm("bloom_decontaminate") {
      // bench side: 1000 docs (an eval-set size) against the full corpus
      val bench = docs.where(col("doc_id") < 1000)
      val train = docs.where(col("doc_id") >= 1000)
      pipeline.Curation.bloomDecontaminationStats(
        train, bench, "doc_id", col("text"), 5).count()
    }
    t("domain_cap_skew50pct", a => s"maxTask=${a.maxTaskMs}ms") {
      // one source owns 50% of the corpus — the hot-domain case. The
      // two-phase salted rank spreads megadomain over 64 salt sorts; the
      // straggler evidence is maxTask staying O(balanced-share), not
      // O(n/2) — a single-window plan would put half the corpus in one
      // task and maxTask would dominate the stage wall time.
      val sourced = docs.withColumn("source",
        when(col("doc_id") < nDocs / 2, lit("megadomain"))
          .otherwise(concat(lit("d"), pmod(col("doc_id"), lit(1000L)))))
      val n = pipeline.Curation.domainCapCensus(
        sourced, col("doc_id"), col("source"), 100).count()
      s"$n sources"
    }
    t("chunk_tokens_w16s8") {
      pipeline.Curation.chunkTokens(docs, "doc_id", col("text"), 16, 8)
        .count()
    }
    tm("unigram_commonness") {
      pipeline.TextAnalysis.unigramCommonness(docs, "doc_id", col("text"))
        .where(col("commonness_ppm") > 900000).count()
    }
    // --- snapshot-delta: diff two nDocs-inode namespaces. The evidence
    // target: shuffleRecords ≈ |A| + |B| (each snapshot crosses the wire
    // exactly once, narrow tracked columns only) + the small agg exchange —
    // NOT a multiple of it, and bytesPerRecord stays O(100) regardless of
    // namespace size.
    tm("snapshot_diff_growth") {
      val snapB = spark.range(nDocs).select(
        col("id"),
        concat(lit("/data/u"), pmod(col("id"), lit(100)), lit("/f"),
          col("id")).as("path"),
        concat(lit("u"), pmod(col("id"), lit(50))).as("user"),
        concat(lit("/data/u"), pmod(col("id"), lit(100))).as("parent"),
        lit(true).as("isFile"),
        pmod(xxhash64(col("id")), lit(1000000L)).as("fileSize"),
        lit(1700000000000L).as("modTime"),
        lit(644L).as("permission"), lit(3L).as("fileReplica"))
      val snapA = snapB.where(col("id") % 17 =!= 0)
        .withColumn("fileSize", when(col("id") % 13 === 5,
          col("fileSize") + 1024L).otherwise(col("fileSize")))
        .unionByName(snapB.where(col("id") % 19 === 3)
          .withColumn("id", col("id") + 2000000000L)
          .withColumn("path", concat(col("path"), lit(".tmp"))))
      val d = operators.SnapshotDiff.diff(snapA, snapB)
      s"${d.count()} diff rows"
    }
    t("snapshot_growth_by_user") {
      // same diff feeding the per-user attribution (adds one tiny exchange
      // over the already-bounded diff output)
      val snapB = spark.range(nDocs).select(
        col("id"),
        concat(lit("/data/u"), pmod(col("id"), lit(100)), lit("/f"),
          col("id")).as("path"),
        concat(lit("u"), pmod(col("id"), lit(50))).as("user"),
        concat(lit("/data/u"), pmod(col("id"), lit(100))).as("parent"),
        lit(true).as("isFile"),
        pmod(xxhash64(col("id")), lit(1000000L)).as("fileSize"),
        lit(1700000000000L).as("modTime"),
        lit(644L).as("permission"), lit(3L).as("fileReplica"))
      val snapA = snapB.where(col("id") % 17 =!= 0)
        .withColumn("fileSize", when(col("id") % 13 === 5,
          col("fileSize") + 1024L).otherwise(col("fileSize")))
      val g = operators.SnapshotDiff.growthByUser(
        operators.SnapshotDiff.diff(snapA, snapB))
      s"${g.count()} users"
    }
    tm("image_dhash_neardup") {
      // perceptual image dedup at nDocs images: render real 9×7 PNGs
      // executor-side (every 10th a one-pixel-perturbed copy), decode +
      // dHash, banded hamming join. Evidence: the join shuffles only
      // (band, value, id, hash) — bytes/record independent of image size —
      // and recall of the planted copies stays total
      val specs = spark.range(nDocs).select(col("id").as("asset_id"),
        when(col("id") % 10 === 9, col("id") - 1).otherwise(col("id"))
          .as("seed"),
        lit(10).as("w"), lit(7).as("h"),
        when(col("id") % 10 === 9, 5).otherwise(0).as("rplus"))
      val hashes = pipeline.Dedup.checkpointCorpus(
        pipeline.Multimodal.imageDHash(spark,
          pipeline.Multimodal.renderPngAssetsQuad(spark, specs)))
      // 63-bit hash (10×7 grid), 3×21-bit bands: occupancy n/2^21 stays
      // sub-1 into the millions — the measured alternative (56-bit,
      // 4×14-bit bands) pays a 1.05B-record verify storm at 1M images
      // because radius-2 recall caps 56 bits at 4 bands. Longer hash,
      // not narrower bands, is the scale axis (operator scaling note).
      val pairs = pipeline.Multimodal.hammingNearDupPairs(
        hashes, "dhash", 63, bands = 3, maxHamming = 2)
      val planted = pairs.where(col("idb") === col("ida") + 1 &&
        col("idb") % 10 === 9).count()
      // fixture-health check: a degenerate pixel formula collapses the
      // corpus into few distinct hashes (three measured failure modes in
      // syntheticPngQuad's scaladoc) and the pair count explodes
      val distinctHashes = hashes.select("dhash").distinct().count()
      val distinctSeeds = nDocs - nDocs / 10
      require(distinctHashes >= distinctSeeds * 95L / 100L,
        s"fixture collapse: $distinctHashes distinct hashes for $distinctSeeds seeds")
      s"${pairs.count()} pairs, $planted/${nDocs / 10} planted copies found, " +
        s"$distinctHashes distinct hashes/$distinctSeeds seeds"
    }
    tm("video_frameset_neardup") {
      // video dedup at nDocs/10 videos × 10 real PNG frames each: every
      // 10th video shares 8 of its predecessor's frame seeds (J = 8/12).
      // The overlap join shuffles (dhash, video_id) only; the intro-frame
      // cap is exercised by giving ALL videos one common frame seed
      val nVid = nDocs / 10
      val frames = spark.range(nVid)
        .select(col("id").as("vid"),
          explode(sequence(lit(0), lit(9))).as("fidx"))
        .select(col("vid"), col("fidx"),
          when(col("vid") % 10 === 9 && col("fidx") < 8, col("vid") - 1)
            .otherwise(col("vid")).as("evid"))
      val specs = frames.select(
        (col("vid") * 16 + col("fidx")).as("asset_id"),
        // fidx 9 of every video maps to one shared "intro card" seed,
        // far above any frame seed (16·nVid+15) so it never collides
        when(col("fidx") === 9, lit(9999999999L))
          .otherwise(col("evid") * 16 + col("fidx")).as("seed"),
        lit(9).as("w"), lit(7).as("h"), lit(0).as("rplus"))
      val hashes = pipeline.Dedup.checkpointCorpus(
        pipeline.Multimodal.imageDHash(spark,
          pipeline.Multimodal.renderPngAssetsQuad(spark, specs))
          .select(expr("asset_id DIV 16").as("video_id"), col("dhash")))
      val pairs = pipeline.Multimodal.frameSetNearDupPairs(
        hashes, 500000L, maxPerHash = 8)
      val planted = pairs.where(col("vidb") === col("vida") + 1 &&
        col("vidb") % 10 === 9).count()
      s"${pairs.count()} pairs, $planted/${nVid / 10} planted copies found"
    }
    tm("audio_fp_neardup") {
      // perceptual audio dedup at nDocs clips: render real 912-sample WAVs
      // executor-side (every 10th a window-0-amp-bumped copy), javax.sound
      // decode + 56-bit window-energy fingerprint, banded hamming join —
      // same wire shape as the image stage: (band, value, id, hash) only
      // 63-bit fingerprint (64 physical windows), 3×21-bit bands — same
      // longer-hash-not-narrower-bands scale rule as the image stage
      val specs = spark.range(nDocs).select(col("id").as("asset_id"),
        when(col("id") % 10 === 9, col("id") - 1).otherwise(col("id"))
          .as("seed"),
        lit(8000).as("rate"), lit(64 * 16).as("n"), lit(64).as("windows"),
        when(col("id") % 10 === 9, 200).otherwise(0).as("aplus"))
      val fps = pipeline.Dedup.checkpointCorpus(
        pipeline.Multimodal.audioFingerprint(spark,
          pipeline.Multimodal.renderWavAssetsSeeded(spark, specs), 63))
      val pairs = pipeline.Multimodal.hammingNearDupPairs(
        fps, "afp", 63, bands = 3, maxHamming = 2)
      val planted = pairs.where(col("idb") === col("ida") + 1 &&
        col("idb") % 10 === 9).count()
      val distinctFps = fps.select("afp").distinct().count()
      val distinctSeeds = nDocs - nDocs / 10
      require(distinctFps >= distinctSeeds * 90L / 100L,
        s"fixture collapse: $distinctFps distinct fps for $distinctSeeds seeds")
      s"${pairs.count()} pairs, $planted/${nDocs / 10} planted copies found, " +
        s"$distinctFps distinct fps/$distinctSeeds seeds"
    }
    tm("trend_per_user_6cycles") {
      // k-cycle history explode collapses map-side: the wire carries only
      // partial (cycle, user) aggregates — shuffleRecords stays O(32
      // partitions × cycles × users) at ANY namespace size, the whole
      // point of aggregating before trending
      val fs = spark.range(nDocs).select(col("id"),
        concat(lit("u"), pmod(col("id"), lit(50))).as("user"),
        pmod(xxhash64(col("id")), lit(1000000L)).as("fileSize"))
      val hist = fs.select(col("id"), col("user"), col("fileSize"),
          explode(sequence(lit(0), lit(5))).as("cycle"))
        .withColumn("cycBytes", col("fileSize") +
          col("cycle") * ((col("id") % 997) - 498) * 64L)
        .groupBy(col("cycle").cast("long").as("cycle"), col("user"))
        .agg(count(lit(1)).as("files"), sum("cycBytes").as("bytes"))
      val tr = operators.TrendAnalysis.trend(
        hist, Seq("user"), "cycle", Seq("bytes", "files"))
      s"${tr.count()} users trended"
    }
    tm("heavy_hitters_k64") {
      // bounded-memory frequent items over every token: k counters per
      // partial, only k-entry maps shuffle — vs the exact path's
      // distinct-token-sized exchange
      val sk = docs
        .select(explode(pipeline.TextAnalysis.tokens(col("text"))).as("tok"))
        .agg(graft.functions.MisraGries.misra_gries(col("tok"), 64).as("sk"))
        .selectExpr("explode(sk) AS e").selectExpr("e.item", "e.cnt")
        .collect()
      s"${sk.length} items, top=${sk.head.getString(0)}" // sorted desc
    }

    // edit-log replay at namespace scale: 1M-inode snapshot, 100k-op
    // segment (creations + attribute patches) with 2 structural ops
    // mid-stream — 3 chunks. The claim under test: apply cost is
    // O(snapshot + ops) path-keyed shuffles with the structural ops as
    // free narrow projections, NOT O(ops) sequential passes. The timing
    // includes the one InodeView.derive over the result (child counts and
    // quota usage: two more namespace-wide shuffles).
    tm("editlog_apply_1m_100k") {
      val n = 1000000L
      val m = 100000L
      val nullStr = lit(null).cast("string")
      val nullLong = lit(null).cast("long")
      val snap = spark.range(n).select(col("id"),
        concat(lit("/data/d"), pmod(col("id"), lit(1000L)), lit("/f"),
          col("id")).as("path"),
        lit(true).as("isFile"),
        concat(lit("u"), pmod(col("id"), lit(50L))).as("user"),
        lit("g").as("group"), lit(644L).as("permission"),
        lit(0L).as("accessTime"), lit(0L).as("modTime"),
        (col("id") * 7L).as("fileSize"), lit(134217728L).as("blockSize"),
        lit(1L).as("numBlocks"), lit(3L).as("fileReplica"),
        lit(0L).as("storagePolicyId"),
        lit(false).as("isUnderConstruction"),
        lit(false).as("isWithSnapshot"), lit(false).as("hasAcl"),
        lit(false).as("hasEcPolicy"),
        lit(-1L).as("nsQuota"), lit(-1L).as("dsQuota"))
        .localCheckpoint(true)
      // ops: 50k creations, [rename d7->e7], 25k patches, [delete d8],
      // 25k more creations — txids force the 3-chunk split
      def blank(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("dst", lit("")).withColumn("setUser", nullStr)
        .withColumn("setGroup", nullStr)
        .withColumn("atime", nullLong).withColumn("fileSize", nullLong)
        .withColumn("numBlocks", nullLong).withColumn("nsQuota", nullLong)
        .withColumn("dsQuota", nullLong).withColumn("policyId", nullLong)
        .withColumn("newLength", nullLong)
        .withColumn("overwrite", lit(false))
      val c1 = blank(spark.range(50000).select(col("id").as("txid"),
        lit("OP_ADD").as("opcode"),
        concat(lit("/new/f"), col("id")).as("path"),
        (col("id") + 20000000L).as("inodeId"),
        lit("u1").as("opUser"), lit("g").as("opGroup"),
        lit(644L).as("permission"), lit(2L).as("replication"),
        (col("id") + 1000L).as("mtime"), lit(134217728L).as("blockSize")))
      val patches = blank(spark.range(25000).select(
        (col("id") + 60000L).as("txid"),
        lit("OP_SET_REPLICATION").as("opcode"),
        concat(lit("/data/d"), pmod(col("id") * 7L, lit(1000L)), lit("/f"),
          col("id") * 7L).as("path"),
        lit(0L).as("inodeId"), nullStr.as("opUser"), nullStr.as("opGroup"),
        nullLong.as("permission"), lit(1L).as("replication"),
        nullLong.as("mtime"), nullLong.as("blockSize")))
      val c2 = blank(spark.range(25000).select(
        (col("id") + 100000L).as("txid"), lit("OP_ADD").as("opcode"),
        concat(lit("/new2/f"), col("id")).as("path"),
        (col("id") + 30000000L).as("inodeId"),
        lit("u2").as("opUser"), lit("g").as("opGroup"),
        lit(644L).as("permission"), lit(2L).as("replication"),
        (col("id") + 5000L).as("mtime"), lit(134217728L).as("blockSize")))
      val structural = blank(Seq(
        (55000L, "OP_RENAME_OLD", "/data/d7", 0L),
        (90000L, "OP_DELETE", "/data/d8", 0L))
        .toDF("txid", "opcode", "path", "inodeId")
        .withColumn("opUser", nullStr).withColumn("opGroup", nullStr)
        .withColumn("permission", nullLong)
        .withColumn("replication", nullLong)
        .withColumn("mtime", nullLong).withColumn("blockSize", nullLong))
        .withColumn("dst", when(col("opcode") === "OP_RENAME_OLD",
          lit("/data/e7")).otherwise(lit("")))
      val ops = c1.unionByName(patches).unionByName(c2)
        .unionByName(structural)
      val out = graft.ingest.EditLogSource.applyEdits(snap, ops)
      val cnt = out.count()
      val expected = n - n / 1000 + 75000 // d8 subtree gone, 75k created
      require(cnt == expected, s"post-count $cnt != $expected")
      val renamed = out.where(col("path").startsWith("/data/e7/")).count()
      s"post=$cnt renamed=$renamed"
    }

    // any-start funnel with a PLANTED BOT: user 0 fires 2,000 step-1
    // anchors and 2,000 step-2 events inside one window, so the per-user
    // anchor×event join is 4M rows in ONE partition uncapped — the
    // skewed-key straggler the default 64-anchor cap exists to bound
    // (64·2,000 = 128k rows, a 31× cut visible in the shuffle records).
    // 10k organic users (4-step chains) ride along in both runs.
    val botM = 2000
    def funnelEvents = {
      val organic = spark.range(10000)
        .select((col("id") + 1L).as("user_id"),
          explode(expr("sequence(0, 3)")).as("s"))
        .select(col("user_id"),
          expr("array('signup','view','click','purchase')[s]").as("event_type"),
          (col("user_id") * 1000000000000L + col("s") * 1000000000L).as("ts"))
      val botAnchors = spark.range(botM).select(lit(0L).as("user_id"),
        lit("signup").as("event_type"), (col("id") * 1000000L).as("ts"))
      val botViews = spark.range(botM).select(lit(0L).as("user_id"),
        lit("view").as("event_type"),
        (col("id") * 1000000L + 500000L).as("ts"))
      organic.unionAll(botAnchors).unionAll(botViews)
        .localCheckpoint(true)
    }
    val funnelWin = 3600L * 1000000000L
    val funnelSteps = Seq("signup", "view", "click", "purchase")
    tm(s"funnel_anystart_bot${botM}_uncapped") {
      val ev = funnelEvents
      val r = graft.operators.WindowFunnel
        .funnelCensusAnyStart(ev, funnelSteps, funnelWin,
          maxAnchorsPerUser = 0).collect()
      s"step1_reached=${r.head.getLong(2)}"
    }
    tm(s"funnel_anystart_bot${botM}_cap64_default") {
      val ev = funnelEvents
      val r = graft.operators.WindowFunnel
        .funnelCensusAnyStart(ev, funnelSteps, funnelWin).collect()
      // the cap is invisible in the census: reach counts DISTINCT users
      s"step1_reached=${r.head.getLong(2)}"
    }
    // events operators at 10M rows, 100k users: sessionization is ONE
    // user-keyed shuffle (the window never sees more than a user's rows),
    // and the bucketized range join keeps candidates O(points +
    // intervals·spanFactor) via the p95-driven width even with whale
    // intervals planted 60× the typical span.
    val nEvents = 10000000L
    val nUsers = 100000L
    def events10m = spark.range(nEvents).select(
      col("id").as("event_id"),
      pmod(col("id"), lit(nUsers)).as("user_id"),
      // ~100 events/user, minute-spaced; a 2-hour gap mid-stream splits
      // every user into exactly 2 sessions at a 30-min gap threshold
      (expr(s"id div $nUsers") * 60000000000L +
        when(expr(s"id div $nUsers") >= 50, 7200000000000L)
          .otherwise(0L)).as("ts"))
    tm("events_sessionize_10m") {
      val s2 = graft.streaming.EventsStream
        .sessionizeBatch(events10m, gapNs = 1800000000000L)
      val rows = s2.agg(count(lit(1)), sum(col("n_sessions"))).head
      require(rows.getLong(0) == nUsers && rows.getLong(1) == 2 * nUsers,
        s"sessionization census off: $rows")
      s"users=${rows.getLong(0)} sessions=${rows.getLong(1)}"
    }
    tm("events_sessionize_native_10m") {
      // the session_window path must reproduce the lag twin's census at
      // 10M. Measured vs the lag twin: same shuffle record count (every
      // event time is unique here, so map-side partials have nothing to
      // collapse) but 5.9 vs 9.3 B/record and 2.9 vs 3.9 s wall — the
      // merge happens inside the aggregate instead of a full
      // lag+running-sum window pass
      val s2 = graft.streaming.EventsStream
        .sessionizeNative(events10m, "30 minutes")
      val rows = s2.agg(count(lit(1)), sum(col("n_sessions"))).head
      require(rows.getLong(0) == nUsers && rows.getLong(1) == 2 * nUsers,
        s"native sessionization census off: $rows")
      s"users=${rows.getLong(0)} sessions=${rows.getLong(1)}"
    }
    tm("events_range_join_10m_autowidth") {
      // 1000 typical 10-min windows + 10 ten-hour whales
      val typical = spark.range(1000).select(col("id").as("iid"),
        (col("id") * 6000000000000L).as("s"))
        .withColumn("e", col("s") + 600000000000L)
      val whales = spark.range(10).select((col("id") + 5000L).as("iid"),
        (col("id") * 600000000000000L).as("s"))
        .withColumn("e", col("s") + 36000000000000L)
      val ivs = typical.unionAll(whales)
      val hits = graft.operators.RangeJoin.rangeJoinAuto(
        events10m.select(col("ts"), col("event_id")), "ts", ivs, "s", "e")
        .count()
      s"hits=$hits"
    }
    tm("events_range_rule_10m") {
      // the OPTIMIZER-RULE path over the same 10M points × 1010
      // intervals, written as the naive BETWEEN join a user would type —
      // must match the manual operator's hit count and never BNLJ
      graft.plans.RangeJoinRewrite.install(spark)
      val typical = spark.range(1000).select(col("id").as("iid"),
        (col("id") * 6000000000000L).as("s"))
        .withColumn("e", col("s") + 600000000000L)
      val whales = spark.range(10).select((col("id") + 5000L).as("iid"),
        (col("id") * 600000000000000L).as("s"))
        .withColumn("e", col("s") + 36000000000000L)
      val ivs = typical.unionAll(whales)
      val prev = spark.conf.getOption(
        graft.plans.RangeJoinRewrite.WidthKey)
      // same width the auto operator picks (p95 span = 10 min)
      spark.conf.set(graft.plans.RangeJoinRewrite.WidthKey,
        600000000000L.toString)
      try {
        val q = events10m.select(col("ts"), col("event_id"))
          .join(ivs, col("ts") >= col("s") && col("ts") <= col("e"))
        // the bucket equi-key must be present; the only nested loop
        // allowed is the whale fallback branch (runtime-small)
        val plan = q.queryExecution.executedPlan.toString
        require(plan.contains("__graft_bucket"), "rule did not fire at 10M")
        require("BroadcastNestedLoop".r.findAllIn(plan).size <= 1,
          "more than the whale fallback nested-loops at 10M")
        s"hits=${q.count()}"
      } finally prev match {
        case Some(v) => spark.conf.set(
          graft.plans.RangeJoinRewrite.WidthKey, v)
        case None => spark.conf.unset(graft.plans.RangeJoinRewrite.WidthKey)
      }
    }

    // month-long intervals through the SQL DOOR: the door's tuner sizes
    // the bucket width from the data (p95 span = exactly monthNs here),
    // so every interval explodes to ≤ 2 bucket rows; the twin stage pins
    // the width to the static 1 h default and each interval fans out to
    // ~720 rows — watch shuffleRecords: ~(points + 2·intervals) vs
    // ~(points + 720·intervals). 20k intervals make the fan-out dominate.
    val doorPts = spark.range(10000000L).select(
      (col("id") * 60000000000L).as("ts"), col("id").as("event_id"))
    val monthNs = 30L * 86400L * 1000000000L
    // 600 back-to-back month intervals: every point lands in exactly one
    val doorIvs = spark.range(600).select(col("id").as("iid"),
      (col("id") * monthNs).as("ws"))
      .withColumn("we", col("ws") + monthNs - 1L)
    val doorSql = "SELECT count(*) AS n FROM door_pts_10m " +
      "JOIN door_month_ivs ON ts BETWEEN ws AND we"
    // candidate fan-out = the bucket explode's output rows, read from the
    // Generate node's metric (join strategy independent — a broadcast
    // hides it from shuffle records)
    def generateRows(df: org.apache.spark.sql.DataFrame): Long = {
      def unwrap(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          unwrap(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          unwrap(q.plan)
        case other => other +: other.children.flatMap(unwrap)
      }
      unwrap(df.queryExecution.executedPlan).collect {
        case g: org.apache.spark.sql.execution.GenerateExec =>
          g.metrics("numOutputRows").value
      }.sum
    }
    tm("events_range_door_autowidth_10m") {
      doorPts.createOrReplaceTempView("door_pts_10m")
      doorIvs.createOrReplaceTempView("door_month_ivs")
      val df = graft.engine.SqlShim
        .execute(spark, "/root/testdata/sf0.001", doorSql).toOption.get
      val opt = df.queryExecution.optimizedPlan.toString
      require(opt.contains(monthNs.toString),
        "door did not auto-tune the width from the interval data")
      // collect(), not head(): head() runs a SEPARATE limited
      // QueryExecution and the metrics would stay zero on this one
      val hits = df.collect()(0).getLong(0)
      val fan = generateRows(df)
      require(fan <= 2L * 600, s"auto-width fan-out not bounded: $fan")
      s"hits=$hits bucketRows=$fan"
    }
    tm("events_range_door_defaultwidth_10m") {
      doorPts.createOrReplaceTempView("door_pts_10m")
      doorIvs.createOrReplaceTempView("door_month_ivs")
      // explicit conf wins over the tuner — this is the silent-fan-out
      // world the data-driven width exists to prevent: every month-long
      // interval explodes into ~720 one-hour buckets
      spark.conf.set(graft.plans.RangeJoinRewrite.WidthKey,
        graft.plans.RangeJoinRewrite.DefaultWidthNs.toString)
      try {
        val df = graft.engine.SqlShim
          .execute(spark, "/root/testdata/sf0.001", doorSql).toOption.get
        s"hits=${df.collect()(0).getLong(0)} bucketRows=${generateRows(df)}"
      } finally spark.conf.unset(graft.plans.RangeJoinRewrite.WidthKey)
    }

    // ---- events family cross-scale stage: funnel, native sessions,
    // TWA, retention and the as-of trio at 1M vs 10M — the measured
    // (not asserted) linearity evidence for the restored family. Read
    // shuffleRecords across the two scales: ~10x records with flat
    // bytes/record means the operator moves per-event tuples, never
    // per-key history blobs; a superlinear jump is a plan regression.
    for ((n, tag) <- Seq((1000000L, "1m"), (10000000L, "10m"))) {
      val users = n / 100L
      // per-user minute-spaced stream with a planted 2-hour gap (2
      // sessions/user) and a repeating 3-step chain for the funnel
      def evUser = spark.range(n).select(
        col("id").as("event_id"),
        pmod(col("id"), lit(users)).as("user_id"),
        expr(s"array('view','click','purchase')[pmod(id div $users, 3)]")
          .as("event_type"),
        (expr(s"id div $users") * 60000000000L +
          when(expr(s"id div $users") >= 50, 7200000000000L)
            .otherwise(0L)).as("ts"))
      // globally minute-spaced stream: years of day buckets for the TWA
      // two-phase chain, weeks of cohorts for retention, and the as-of
      // point side
      def evTime = spark.range(n).select(
        col("id").as("event_id"),
        pmod(col("id"), lit(users)).as("user_id"),
        expr("concat('t', pmod(xxhash64(id), 8))").as("event_type"),
        (col("id") * 60000000000L).as("ts"),
        pmod(xxhash64(col("id")), lit(10000L)).as("v_cents"))
      def quotes = spark.range(n / 10).select(
        pmod(col("id"), lit(users)).as("user_id"),
        (col("id") * 600000000000L).as("ts"),
        col("id").as("ref_id"))
      tm(s"events_family_funnel_$tag") {
        val r = graft.operators.WindowFunnel.funnelCensus(
          evUser.select("user_id", "event_type", "ts"),
          Seq("view", "click", "purchase"), 3600L * 1000000000L).collect()
        s"reach=${r.map(_.getLong(2)).mkString("/")}"
      }
      tm(s"events_family_sessions_native_$tag") {
        val r = graft.streaming.EventsStream
          .sessionizeNative(evUser.select("event_id", "user_id", "ts"),
            "30 minutes")
          .agg(count(lit(1)), sum("n_sessions")).head
        s"users=${r.getLong(0)} sessions=${r.getLong(1)}"
      }
      tm(s"events_family_twa_$tag") {
        val r = graft.operators.TimeWeightedAvg.compute(
          evTime.select(col("event_type"), col("ts"), col("event_id"),
            col("v_cents"))).collect()
        s"types=${r.length}"
      }
      tm(s"events_family_retention_$tag") {
        s"cells=${graft.operators.Retention.cohorts(
          evTime.select("user_id", "ts")).count()}"
      }
      // aggregate ON the attached payload — a bare count() lets the
      // optimizer prune the (cardinality-preserving) window entirely and
      // measures nothing
      def asofForce(df: org.apache.spark.sql.DataFrame): String = {
        val r = df.agg(count(col("asof_ref_id")), coalesce(
          expr("bit_xor(asof_ref_id)"), lit(0L))).head
        s"matched=${r.getLong(0)} xor=${r.getLong(1)}"
      }
      tm(s"events_family_asof_backward_$tag") {
        asofForce(graft.operators.AsOfJoin.asofJoin(
          evTime.select("user_id", "ts", "event_id"), quotes,
          "user_id", "ts", Seq("ref_id")))
      }
      tm(s"events_family_asof_forward_$tag") {
        asofForce(graft.operators.AsOfJoin.asofJoinForward(
          evTime.select("user_id", "ts", "event_id"), quotes,
          "user_id", "ts", Seq("ref_id"), Some(3600000000000L)))
      }
      tm(s"events_family_asof_nearest_$tag") {
        asofForce(graft.operators.AsOfJoin.asofJoinNearest(
          evTime.select("user_id", "ts", "event_id"), quotes,
          "user_id", "ts", Seq("ref_id"), 3600000000000L))
      }
      // WHALE KEY: half the events collapse onto user 0 — the plain
      // as-of sorts them in ONE window partition (the skewed-key
      // straggler); the bucketed two-phase bounds every sort partition
      // by the day bucket, at the same answer
      def evWhale = evTime.select(
        when(col("event_id") % 2 === 0, 0L).otherwise(col("user_id"))
          .as("user_id"), col("ts"), col("event_id"))
      tm(s"events_family_asof_whale_plain_$tag") {
        asofForce(graft.operators.AsOfJoin.asofJoin(
          evWhale, quotes, "user_id", "ts", Seq("ref_id")))
      }
      tm(s"events_family_asof_whale_bucketed_$tag") {
        asofForce(graft.operators.AsOfJoin.asofJoinBucketed(
          evWhale, quotes, "user_id", "ts", Seq("ref_id"),
          bucketNs = 86400L * 1000000000L))
      }
      // Z-ORDER LAYOUT: skewed x (quadratic → long tail) × uniform y.
      // Linearity evidence: ONE range exchange of exactly n records at
      // flat bytes/record; the quantile pass must keep the curve
      // populated despite the skew (≥ 200 of 256 cells at 1M). The
      // returned figure is distinct curve cells — a collapsed layout
      // (unnormalized skew) would park most rows in a handful of cells.
      def layoutDims = spark.range(n).select(
        (col("id") * col("id") % 999983L).as("x"),
        pmod(xxhash64(col("id")), lit(1000000L)).as("y"))
      def layoutForce(curve: String): String = {
        val clustered = graft.operators.ZOrder.clusterN(layoutDims,
          Seq("x", "y"), partitions = 32, keepCodeAs = Some("zc"),
          curve = curve)
        // the force reads x AND y so column pruning cannot thin the
        // exchange — the shuffle carries whole rows, like a real
        // rewrite-the-files layout job
        val r = clustered.agg(
          countDistinct(shiftright(col("zc"), 8)).as("cells"),
          sum(col("x") + col("y"))).head()
        s"cells=${r.getLong(0)}"
      }
      // INCREMENTAL CENSUS: the 15-minute suggestions cycle at namespace
      // scale. full = the reference's model (re-aggregate everything);
      // incremental = fold an n/1000-row delta + re-aggregate the
      // dirs-only slice (production keeps dirs partition-separated, so
      // it's passed as its own frame, exactly like a pruned scan). The
      // delta frames are materialized delta-SIZED (that is how they
      // arrive from the edit-log tail via touchedPredicate pushdown) —
      // the fold's cost must not secretly rescan the namespace.
      {
        val censusFiles = spark.range(n).select(col("id"),
          concat(lit("/d/f"), col("id")).as("path"), lit(true).as("isFile"),
          concat(lit("u"), pmod(col("id"), lit(50L))).as("user"),
          (col("id") * 7331L % 300000000L).as("fileSize"),
          (col("id") % 1000000L).as("modTime"),
          (col("id") % 2000000L).as("accessTime"),
          lit(1L).as("numBlocks"), lit(3L).as("fileReplica"),
          lit(-1L).as("nsQuota"), lit(-1L).as("dsQuota"),
          lit(false).as("hasQuota"), lit(0L).as("dirNumChildren"),
          lit(0L).as("nsQuotaUsed"), lit(0L).as("dsQuotaUsed"))
        val censusDirs = spark.range(n / 100).select(
          (col("id") + 900000000L).as("id"),
          concat(lit("/d/dir"), col("id")).as("path"),
          lit(false).as("isFile"),
          concat(lit("u"), pmod(col("id"), lit(50L))).as("user"),
          lit(0L).as("fileSize"), lit(0L).as("modTime"),
          lit(0L).as("accessTime"), lit(0L).as("numBlocks"),
          lit(0L).as("fileReplica"),
          when(col("id") % 7 === 0, 1000L).otherwise(-1L).as("nsQuota"),
          lit(-1L).as("dsQuota"), (col("id") % 7 === 0).as("hasQuota"),
          pmod(col("id"), lit(30L)).as("dirNumChildren"),
          pmod(col("id"), lit(990L)).as("nsQuotaUsed"),
          lit(0L).as("dsQuotaUsed"))
        // the cycle's inputs live on PARQUET like a real metadata store —
        // an in-memory frame would hide exactly the scan cost the fold
        // exists to avoid. Writes are setup, not timed.
        val root = java.nio.file.Files
          .createTempDirectory(s"census_$tag").toString
        val delCond = pmod(col("id"), lit(1000L)) === 0 && col("isFile")
        val snap0 = censusFiles.unionByName(censusDirs)
        val addedRows = snap0.where(delCond)
          .withColumn("fileSize", col("fileSize") + 12345678L)
        snap0.where(!delCond).unionByName(addedRows)
          .write.parquet(s"$root/snap1")          // the post-delta namespace
        censusDirs.write.parquet(s"$root/dirs")   // dirs partition-separated
        snap0.where(delCond).write.parquet(s"$root/removed")
        addedRows.write.parquet(s"$root/added")
        graft.api.Suggestions.cachedValues(snap0, 0L)
          .write.parquet(s"$root/prev")
        var fullRow: org.apache.spark.sql.Row = null
        ti(s"census_full_$tag") {
          fullRow = graft.api.Suggestions
            .cachedValues(spark.read.parquet(s"$root/snap1"), 0L).head()
          s"numFiles=${fullRow.getAs[Long]("numFiles")}"
        }
        ti(s"census_incremental_$tag") {
          val folded = graft.api.IncrementalCensus.fold(
            spark.read.parquet(s"$root/prev"),
            spark.read.parquet(s"$root/removed"),
            spark.read.parquet(s"$root/added"),
            spark.read.parquet(s"$root/dirs"), 0L).head()
          require(fullRow == null || folded.toSeq == fullRow.toSeq,
            "incremental census drifted from the full recompute")
          s"numFiles=${folded.getAs[Long]("numFiles")} (≡ full)"
        }
      }
      tm(s"layout_zorder_cluster_$tag") { layoutForce("morton") }
      // the adjacency-preserving curve: same shuffle shape, pays a
      // 16-round loop per row in the key projection — this stage makes
      // that CPU delta visible next to morton's straight-line masks
      tm(s"layout_hilbert_cluster_$tag") { layoutForce("hilbert") }
      // INCREMENTAL layout maintenance: a delta 1/10 the base keyed
      // against the base's FROZEN bounds shuffles only delta records —
      // the per-arrival cost of keeping an appended table skippable,
      // vs the full re-cluster above that moves all n.
      tm(s"layout_zorder_delta_$tag") {
        val bounds = graft.operators.ZOrder
          .layoutBounds(layoutDims, Seq("x", "y"))
        val delta = spark.range(n / 10).select(
          ((col("id") + n) * (col("id") + n) % 999983L).as("x"),
          pmod(xxhash64(col("id") + n), lit(1000000L)).as("y"))
        val kept = graft.operators.ZOrder
          .clusterDelta(delta, Seq("x", "y"), partitions = 8, bounds)
        val r = kept.agg(count(lit(1)), sum(col("x") + col("y"))).head()
        s"deltaRows=${r.getLong(0)}"
      }
    }

    // ---- TPC-H cross-scale: the heavy five at 1× vs 10× --------------
    // With the forced broadcasts gone (round-8 hygiene sweep), join
    // strategy on the SF-linear sides is AQE's runtime decision — this
    // stage pins that the decision stays SCALE-CORRECT: shuffle records
    // grow ~10× (data-linear, no quadratic blowup), bytes/record stays
    // flat (no build side starts shipping payloads), and no plan falls
    // off a strategy cliff. The tables are synthesized with the driver
    // fixtures' schemas and value domains (sf0.1 row counts at 1×) and
    // run through the EXACT registry queries, so the measured plans are
    // the production ones. Filter: `runMain graft.ScaleBench 0 0 tpch`.
    val tpchHeavy = Seq("q5_nation_revenue", "q7_nation_trade",
      "q9_profit_by_nation", "q17_small_quantity", "q21_waiting_supplier")
    val tpchScales = Seq(1 -> "x1", 10 -> "x10")
    if (tpchScales.exists { case (_, tag) =>
        tpchHeavy.exists(q => only(s"tpch_${q}_$tag")) }) {
      def h(c: org.apache.spark.sql.Column, salt: Int) =
        xxhash64(c, lit(salt))
      def pick(c: org.apache.spark.sql.Column, vals: Seq[String]) =
        element_at(array(vals.map(lit): _*),
          pmod(h(c, vals.length * 131), lit(vals.length.toLong)).cast("int") + 1)
      // o_orderdate as a FUNCTION of the order key so lineitem can
      // re-derive it without a join: ship = order + [0,120) days ⇒ ~half
      // the lines are >60 days late, matching the driver fixture
      def odateOf(k: org.apache.spark.sql.Column) =
        lit("1995-01-01 00:00:00").cast("timestamp_ntz") +
          make_dt_interval(pmod(h(k, 997), lit(2000L)).cast("int"))
      def synth(scale: Int, tag: String): String = {
        val root = java.nio.file.Files
          .createTempDirectory(s"tpch_$tag").toString
        val nCust = 15000L * scale; val nSupp = 1000L * scale
        val nPart = 20000L * scale; val nOrd = 150000L * scale
        spark.range(25).select(col("id").cast("int").as("n_nationkey"),
            concat(lit("NATION_"), col("id")).as("n_name"),
            pmod(col("id"), lit(5L)).cast("int").as("n_regionkey"))
          .coalesce(1).write.parquet(s"$root/nation.parquet")
        spark.range(5).select(col("id").cast("int").as("r_regionkey"),
            element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
              "MIDDLE EAST").map(lit): _*), col("id").cast("int") + 1)
              .as("r_name"))
          .coalesce(1).write.parquet(s"$root/region.parquet")
        spark.range(nCust).select(col("id").as("c_custkey"),
            concat(lit("Customer#"), col("id")).as("c_name"),
            pmod(h(col("id"), 1), lit(25L)).cast("int").as("c_nationkey"),
            (pmod(h(col("id"), 2), lit(1000000L)) / 100.0 - 1000.0)
              .as("c_acctbal"),
            pick(col("id"), Seq("AUTOMOBILE", "FURNITURE", "HOUSEHOLD",
              "BUILDING", "MACHINERY")).as("c_mktsegment"))
          .write.parquet(s"$root/customer.parquet")
        spark.range(nSupp).select(col("id").as("s_suppkey"),
            concat(lit("Supplier#"), col("id")).as("s_name"),
            pmod(h(col("id"), 4), lit(25L)).cast("int").as("s_nationkey"),
            (pmod(h(col("id"), 5), lit(1000000L)) / 100.0 - 1000.0)
              .as("s_acctbal"))
          .write.parquet(s"$root/supplier.parquet")
        spark.range(nPart).select(col("id").as("p_partkey"),
            concat(pick(col("id"), Seq("red", "large", "hot", "blue",
              "old", "cold", "dim", "fresh")), lit(" "),
              pick(h(col("id"), 6), Seq("bolt", "ring", "plate", "cap",
                "tube"))).as("p_name"),
            concat(lit("Brand#"), pmod(h(col("id"), 8), lit(25L)) + 1)
              .as("p_brand"),
            concat(lit("TYPE_"), pmod(h(col("id"), 9), lit(10L)))
              .as("p_type"),
            (pmod(h(col("id"), 10), lit(50L)).cast("int") + 1).as("p_size"),
            (pmod(h(col("id"), 11), lit(100000L)) / 100.0)
              .as("p_retailprice"))
          .write.parquet(s"$root/part.parquet")
        spark.range(nOrd).select(col("id").as("o_orderkey"),
            pmod(h(col("id"), 12), lit(nCust)).as("o_custkey"),
            pick(col("id"), Seq("F", "O", "P")).as("o_orderstatus"),
            (pmod(h(col("id"), 14), lit(10000000L)) / 100.0)
              .as("o_totalprice"),
            odateOf(col("id")).as("o_orderdate"),
            pick(h(col("id"), 15), Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
              "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
          .write.parquet(s"$root/orders.parquet")
        spark.range(nOrd * 4).select(expr("id div 4").as("l_orderkey"),
            pmod(h(col("id"), 16), lit(nPart)).as("l_partkey"),
            pmod(h(col("id"), 17), lit(nSupp)).as("l_suppkey"),
            (pmod(col("id"), lit(4L)).cast("int") + 1).as("l_linenumber"),
            (pmod(h(col("id"), 18), lit(50L)) + 1).cast("double")
              .as("l_quantity"),
            (pmod(h(col("id"), 19), lit(10000000L)) / 100.0)
              .as("l_extendedprice"),
            (pmod(h(col("id"), 20), lit(11L)) / 100.0).as("l_discount"),
            (pmod(h(col("id"), 21), lit(9L)) / 100.0).as("l_tax"),
            pick(col("id"), Seq("R", "N", "A")).as("l_returnflag"),
            pick(h(col("id"), 23), Seq("O", "F")).as("l_linestatus"),
            (odateOf(expr("id div 4")) +
              make_dt_interval(pmod(h(col("id"), 24), lit(120L))
                .cast("int"))).as("l_shipdate"))
          .write.parquet(s"$root/lineitem.parquet")
        root
      }
      for ((scale, tag) <- tpchScales) {
        val dir = synth(scale, tag)
        tpchHeavy.foreach { q =>
          tm(s"tpch_${q}_$tag") {
            // collect (small result sets: ≤10k rows) so the df's OWN
            // execution finalizes its adaptive plan, then count join
            // strategies in the final plan — the broadcast→shuffle
            // shift across scales is the evidence, printed inline
            val df = SparkEntry.queries(q)(spark, dir)
            val n = df.collect().length
            val plan = df.queryExecution.executedPlan.toString
            if (sys.env.contains("SPARK_GRAFT_TPCH_EXPLAIN"))
              println(s"=== PLAN tpch_${q}_$tag ===\n$plan")
            def cnt(s: String) = s.r.findAllMatchIn(plan).length
            s"rows=$n bhj=${cnt("BroadcastHashJoin")} " +
              s"smj=${cnt("SortMergeJoin")} shj=${cnt("ShuffledHashJoin")}"
          }
        }
      }
    }

    // ---- retrieval/curation cross-scale: BM25 + token-budget at 1M vs
    // 10M docs. BM25's shuffle should track TOKEN volume (the one
    // (doc,term) agg exchange dominates; scoring stays aggregate-space);
    // token-budget's should track DOC count (one id/score/len tuple per
    // doc through the bucketed cumsum — text never rides the window
    // exchange). Flat bytes/record at 10× records is the pass condition.
    if (Seq("1m", "10m").exists(tag => only(s"retrieval_bm25_$tag") ||
        only(s"retrieval_token_budget_$tag"))) {
      for ((n, tag) <- Seq((1000000L, "1m"), (10000000L, "10m"))) {
        // ~40-token docs, power-law-ish 3000-word vocab (the dedup
        // fixture's generator shape, re-derived at this n)
        def sdocs = spark.range(n).select(col("id").as("doc_id"),
          array_join(expr(
            """transform(sequence(0, 39), j ->
                 concat('w', pmod(xxhash64(id * 40 + j) %
                   (1 + pmod(xxhash64(id, j), 3000)), 3000)))"""), " ")
            .as("text"))
        tm(s"retrieval_bm25_$tag") {
          val top = pipeline.TextAnalysis.bm25TopK(sdocs, col("doc_id"),
            col("text"), Seq("w7", "w42", "w2999"), 10).collect()
          s"top=${top.length} best=${top.headOption.map(_.getLong(0)).getOrElse(-1L)}"
        }
        tm(s"retrieval_token_budget_$tag") {
          // budget = half the expected corpus tokens: both branches busy
          val picks = pipeline.Curation.tokenBudgetSelect(sdocs,
            col("doc_id"), col("text"), n * 20L)
          val r = picks.groupBy(col("kept"))
            .agg(count(lit(1)).as("n"), sum(col("n_tokens")).as("toks"))
            .collect().map(x => s"${x.getBoolean(0)}:${x.getLong(1)}")
          r.sorted.mkString(" ")
        }
      }
    }

    // ---- persistent BM25 posting index (Bm25Index): the build pays the
    // corpus-sized explode+agg ONCE; every probe is then a
    // partition-pruned read of the query terms' postings only. The ti()
    // input-records line is the evidence: probe input must be orders of
    // magnitude under the build's token volume (and under the index-free
    // scan's doc volume) — the amortization contract of a serving index.
    if (Seq("1m", "10m").exists(tag =>
        only(s"retrieval_bm25_index_build_$tag") ||
        only(s"retrieval_bm25_probe_$tag") ||
        only(s"retrieval_bm25_probe_deleted_$tag"))) {
      for ((n, tag) <- Seq((1000000L, "1m"), (10000000L, "10m"))) {
        def sdocs = spark.range(n).select(col("id").as("doc_id"),
          array_join(expr(
            """transform(sequence(0, 39), j ->
                 concat('w', pmod(xxhash64(id * 40 + j) %
                   (1 + pmod(xxhash64(id, j), 3000)), 3000)))"""), " ")
            .as("text"))
        val dir = s"/tmp/graft_bm25_idx_$tag"
        var nStats = 0L; var tlStats = 0L
        tm(s"retrieval_bm25_index_build_$tag") {
          val (postings, stats) = pipeline.Bm25Index.build(sdocs,
            col("doc_id"), col("text"), nBuckets = 256)
          pipeline.Bm25Index.write(postings, dir)
          val s0 = stats.collect().head
          nStats = s0.getLong(0); tlStats = s0.getLong(1)
          s"n=$nStats total_len=$tlStats"
        }
        ti(s"retrieval_bm25_probe_$tag") {
          val statsDf = spark.range(1).select(
            lit(nStats).as("n"), lit(tlStats).as("total_len"))
          val top = pipeline.Bm25Index.search(spark.read.parquet(dir),
            statsDf, Seq("w7", "w42", "w2999"), 10, nBuckets = 256)
            .collect()
          s"top=${top.length} best=${top.headOption.map(_.getLong(0)).getOrElse(-1L)}"
        }
        // the DELETE door under probe load: ~1% of the corpus is
        // tombstoned and the search runs through the broadcast
        // anti-join. The delete bookkeeping (tombstone ids + the 1-row
        // stats correction) happens OUTSIDE the measured block — it is
        // the O(delta) write-path step, and its range-generated doc
        // reads would otherwise drown the index-read evidence. The
        // stage's claim: tombstoned probe input stays probe-sized —
        // the anti-join rides ABOVE the bucket pruning, never forcing
        // a corpus re-read.
        if (only(s"retrieval_bm25_probe_deleted_$tag")) {
          val statsDf = spark.range(1).select(
            lit(nStats).as("n"), lit(tlStats).as("total_len"))
          val (tombs0, s20) = pipeline.Bm25Index.delete(statsDf,
            sdocs.where(col("doc_id") % 97 === 0), col("doc_id"),
            col("text"))
          val tombs = tombs0.localCheckpoint(true)
          val s2 = s20.collect().head
          ti(s"retrieval_bm25_probe_deleted_$tag") {
            val s2Df = spark.range(1).select(
              lit(s2.getLong(0)).as("n"), lit(s2.getLong(1)).as("total_len"))
            val top = pipeline.Bm25Index.search(
              pipeline.Bm25Index.applyTombstones(
                spark.read.parquet(dir), tombs),
              s2Df, Seq("w7", "w42", "w2999"), 10, nBuckets = 256)
              .collect()
            s"top=${top.length} best=${top.headOption.map(_.getLong(0)).getOrElse(-1L)}"
          }
        }
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      }
    }

    // ---- serving-index LIFECYCLE at scale: the fixture soak
    // (LifecycleSoakSpec) proves the doors compose; this stage proves
    // the composition's COST SHAPE at 1M docs against the PERSISTED
    // index at 1M and (ticks+probe) 10M docs. Three maintenance ticks
    // (1,000 deletes + 1,000 updates + 1,000 adds each) run through
    // Maintenance.tick — the SAME one-call orchestration the soak
    // drives — over a ParquetStore: gen-aware guarded deletes (only a
    // MaxValue tombstone suppresses a re-send), generation-versioned
    // UPDATES (the fresh generation's postings append and survive
    // their own id's tombstone), adds appended per-bucket (existing
    // postings never read or reshuffled), re-add demotion, stats fold,
    // compactNeeded riding every tick. One unified tombstone table
    // serves all doors: a delete retires the id up to Long.MaxValue,
    // an update up to the superseded generation. The measured tick's
    // inputRecords must be DELTA-sized (thousands) while the store
    // holds 40M postings — the O(delta) maintenance contract; the
    // post-ticks probe must stay probe-sized through the gen
    // anti-join; and the tombstoned answer must equal a fresh rebuild
    // on the updated surviving corpus (top-k equality asserted, at
    // full scale). the 10m twin runs the ticks + probe only (tick
    // inputRecords must be FLAT across the 10x corpus — the O(delta)
    // evidence; the 1m equiv/compaction stages plus the DuckDB oracles
    // already pin the answer, re-proving it at 10m would pay a
    // multi-minute rebuild for no new information)
    val gtext = expr(
      """array_join(transform(sequence(0, 39), j ->
           concat('w', pmod(xxhash64(id * 40 + j) %
             (1 + pmod(xxhash64(id, j), 3000)), 3000))), ' ')""")
    def gdocs(ids: org.apache.spark.sql.DataFrame) =
      ids.select(col("id").as("doc_id"), gtext.as("text"))
    val updSuffix = " w42 zzupdated"
    for ((n, tag) <- Seq((1000000L, "1m"), (10000000L, "10m"))
         if Seq(s"lifecycle_tick_$tag", s"lifecycle_probe_post_ticks_$tag",
           s"lifecycle_equiv_$tag", s"lifecycle_compaction_$tag")
           .exists(only)) {
      val deep = tag == "1m"
      val m = n / 1000 // delta classes stay 1,000 docs at EVERY scale
      val dir = s"/tmp/graft_bm25_lifecycle_$tag"
      val door = new pipeline.Maintenance.Bm25Door(col("text"), 256)
      val store = new pipeline.Maintenance.ParquetStore(spark, dir,
        pipeline.Bm25Index.write)
      var st: pipeline.Maintenance.State = null
      t(s"lifecycle_index_build_$tag") {
        val (postings, stats) = pipeline.Bm25Index.build(
          gdocs(spark.range(n).toDF()), col("doc_id"), col("text"),
          nBuckets = 256)
        pipeline.Bm25Index.write(
          pipeline.Bm25Index.stampGen(postings, 0L), dir)
        st = pipeline.Maintenance.initialState(spark, door, Some(stats))
        val s0 = st.stats.get.collect().head
        s"n=${s0.getLong(0)} total_len=${s0.getLong(1)}"
      }
      var compactSignals = 0
      // tick i: delete base-doc class id%m==i, UPDATE class
      // id%m==100+i (version-1 text under gen i+1); classes are
      // disjoint across ticks and doors, adds sit past the base range,
      // so every superseded version is v0. Delta frames are
      // materialized OUTSIDE the measured block: a real deployment's
      // delta ARRIVES delta-sized (a changed-docs batch), it is not
      // carved out of a corpus scan — counting the synthetic range
      // read would drown the evidence the stage exists for.
      def deltas(i: Int) = {
        val oldsU = gdocs(spark.range(n).toDF()
          .where(col("id") % m === 100 + i)).localCheckpoint(true)
        (gdocs(spark.range(n).toDF().where(col("id") % m === i))
           .localCheckpoint(true),
         oldsU,
         oldsU.select(col("doc_id"),
           concat(col("text"), lit(updSuffix)).as("text"))
           .localCheckpoint(true),
         gdocs(spark.range(n + i * 1000L, n + (i + 1) * 1000L).toDF())
           .localCheckpoint(true))
      }
      def tick(dels: org.apache.spark.sql.DataFrame,
               oldsU: org.apache.spark.sql.DataFrame,
               newsU: org.apache.spark.sql.DataFrame,
               adds: org.apache.spark.sql.DataFrame): String = {
        st = pipeline.Maintenance.tick(door, store, st,
          adds = adds, deletes = dels, updates = newsU,
          updatesOld = Some(oldsU),
          checkpoint = df => df.localCheckpoint(true))
        if (pipeline.Dedup.compactNeeded(st.tombstones)) compactSignals += 1
        pin() // the tombstone checkpoint must survive the stage sweep
        val sr = st.stats.get.collect().head
        s"tombstones=${st.tombstones.count()} n=${sr.getLong(0)}"
      }
      val (d0, ou0, nu0, a0) = deltas(0); tick(d0, ou0, nu0, a0)
      val (d1, ou1, nu1, a1) = deltas(1); tick(d1, ou1, nu1, a1)
      val (d2, ou2, nu2, a2) = deltas(2)
      ti(s"lifecycle_tick_$tag") { tick(d2, ou2, nu2, a2) } // measured tick
      val qts = Seq("w7", "w42", "w2999")
      var viaTombs: Seq[(Long, Long)] = Nil
      ti(s"lifecycle_probe_post_ticks_$tag") {
        viaTombs = pipeline.Bm25Index.search(st.live(door, store),
          st.stats.get, qts, 10, nBuckets = 256)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        s"top=${viaTombs.length} best=${viaTombs.headOption.map(_._1).getOrElse(-1L)}"
      }
      if (deep) t(s"lifecycle_equiv_$tag") {
        // fresh rebuild on the updated surviving corpus, at full scale
        val survivors = gdocs(spark.range(n).toDF()
          .where(!(col("id") % m).isin(0, 1, 2)))
          .select(col("doc_id"),
            when((col("doc_id") % m).isin(100, 101, 102),
              concat(col("text"), lit(updSuffix)))
              .otherwise(col("text")).as("text"))
          .unionByName(gdocs(spark.range(n, n + 3000L).toDF()))
        val (pf, sf) = pipeline.Bm25Index.build(survivors, col("doc_id"),
          col("text"), nBuckets = 256)
        val sfr = sf.collect().head
        val str = st.stats.get.collect().head
        require(sfr.getLong(0) == str.getLong(0) &&
          sfr.getLong(1) == str.getLong(1),
          s"stats drifted: ticks=(${str.getLong(0)},${str.getLong(1)}) " +
            s"rebuild=(${sfr.getLong(0)},${sfr.getLong(1)})")
        val viaRebuild = pipeline.Bm25Index.search(pf, sf, qts, 10,
          nBuckets = 256)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        require(viaTombs == viaRebuild && viaTombs.nonEmpty,
          s"tombstoned top-k != rebuild top-k:\n$viaTombs\n$viaRebuild")
        s"match=true compactSignals=$compactSignals"
      }
      if (deep) t(s"lifecycle_compaction_$tag") {
        // the one honest corpus-sized rewrite the trigger schedules —
        // through the store's own swap (what a fired trigger runs)
        store.rewrite(st.live(door, store))
        val viaCompacted = pipeline.Bm25Index.search(
          store.rows, st.stats.get, qts, 10, nBuckets = 256)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        require(viaCompacted == viaTombs, "compaction changed the answer")
        "match=true"
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }

    // ---- IVF lifecycle at scale: the same flat-tick contract on the
    // second persisted gen store. Ticks (1,000 deletes + 1,000
    // reversed-embedding updates + 1,000 adds) through the SAME
    // Maintenance.tick over a cell-partitioned ParquetStore under a
    // frozen 256-cell quantizer; the measured tick's inputRecords must
    // be delta-sized and FLAT across 1M→10M vectors, the post-ticks
    // probe must stay probe-sized through the gen anti-join (compare
    // the plain-store probe twin), and at 1m the tombstoned cells must
    // equal a fresh assignment of the updated survivors.
    for ((n, tag) <- Seq((1000000L, "1m"), (10000000L, "10m"))
         if Seq(s"lifecycle_ivf_tick_$tag", s"lifecycle_ivf_probe_$tag",
           s"lifecycle_ivf_equiv_$tag").exists(only)) {
      val deep = tag == "1m"
      val m = n / 1000
      val gemb = expr(
        """transform(sequence(0, 15), d ->
             cast(pmod(xxhash64(id, d), 1000) / 500.0 - 1.0 as float))""")
      def gvecs(ids: org.apache.spark.sql.DataFrame) =
        ids.select(col("id").as("vec_id"), gemb.as("embedding"))
      def gvecsUpd(ids: org.apache.spark.sql.DataFrame) =
        ids.select(col("id").as("vec_id"),
          reverse(gemb).as("embedding"))
      val dir = s"/tmp/graft_ivf_lifecycle_$tag"
      def ivfWrite(df: org.apache.spark.sql.DataFrame, d: String,
                   mode: String): Unit =
        df.write.partitionBy("cell").mode(mode).parquet(d)
      var cents: Seq[(Long, Array[Double])] = Nil
      var door: pipeline.Maintenance.IvfDoor = null
      val store = new pipeline.Maintenance.ParquetStore(spark, dir, ivfWrite)
      var st: pipeline.Maintenance.State = null
      t(s"lifecycle_ivf_build_$tag") {
        cents = pipeline.Similarity.centroids(
          gvecs(spark.range(n).toDF()), 256) // frozen quantizer
        door = new pipeline.Maintenance.IvfDoor(cents)
        ivfWrite(pipeline.Similarity.ivfStampGen(
          pipeline.Similarity.ivfAssign(gvecs(spark.range(n).toDF()),
            cents), 0L), dir, "overwrite")
        st = pipeline.Maintenance.initialState(spark, door)
        s"nlist=256 n=$n"
      }
      def vdeltas(i: Int) = (
        gvecs(spark.range(n).toDF().where(col("id") % m === i))
          .localCheckpoint(true),
        gvecsUpd(spark.range(n).toDF().where(col("id") % m === 100 + i))
          .localCheckpoint(true),
        gvecs(spark.range(n + i * 1000L, n + (i + 1) * 1000L).toDF())
          .localCheckpoint(true))
      def vtick(dels: org.apache.spark.sql.DataFrame,
                upds: org.apache.spark.sql.DataFrame,
                adds: org.apache.spark.sql.DataFrame): String = {
        st = pipeline.Maintenance.tick(door, store, st,
          adds = adds, deletes = dels, updates = upds,
          checkpoint = df => df.localCheckpoint(true))
        pin()
        s"tombstones=${st.tombstones.count()} gen=${st.nextGen}"
      }
      val (vd0, vu0, va0) = vdeltas(0); vtick(vd0, vu0, va0)
      val (vd1, vu1, va1) = vdeltas(1); vtick(vd1, vu1, va1)
      val (vd2, vu2, va2) = vdeltas(2)
      ti(s"lifecycle_ivf_tick_$tag") { vtick(vd2, vu2, va2) }
      // query ids ≡ 500 (mod m): never deleted or updated at any scale
      val q = gvecs(spark.range(5).toDF()
        .select((col("id") * m + 500L).as("id"))).localCheckpoint(true)
      pin() // q must survive the tick stage's sweep
      var viaTombs: Seq[Seq[Any]] = Nil
      ti(s"lifecycle_ivf_probe_$tag") {
        // the partition-pruned serving probe (literal probe cells →
        // parquet partition filter) through the gen anti-join
        viaTombs = pipeline.VectorLeg.Ivf(st.live(door, store), cents, 8)
          .batch(q, 10).orderBy("qid", "rank").collect().map(_.toSeq).toSeq
        s"rows=${viaTombs.size}"
      }
      ti(s"lifecycle_ivf_probe_plain_$tag") {
        // the no-anti-join twin on the SAME store (dead generations
        // included): the gen probe above must read only
        // tombstone-broadcast more than this
        val c = pipeline.VectorLeg.Ivf(store.rows, cents, 8).batch(q, 10)
          .count()
        s"rows=$c"
      }
      ti(s"lifecycle_ivf_probe_unpruned_$tag") {
        // the in-memory-index probe shape on the parquet store: the
        // cell join alone prunes NOTHING (reads the whole store) — the
        // contrast that justifies the literal-cell serving path
        val c = pipeline.Similarity.ivfTopKIndexed(q,
          st.live(door, store), cents, 10, nprobe = 8).count()
        s"rows=$c"
      }
      if (deep) t(s"lifecycle_ivf_equiv_$tag") {
        val survivors = gvecs(spark.range(n).toDF()
          .where(!(col("id") % m).isin(0, 1, 2, 100, 101, 102)))
          .unionByName(gvecsUpd(spark.range(n).toDF()
            .where((col("id") % m).isin(100, 101, 102))))
          .unionByName(gvecs(spark.range(n, n + 3000L).toDF()))
        val rebuilt = pipeline.Similarity.ivfAssign(survivors, cents)
          .select(col("cell"), col("nid"))
        val live = st.live(door, store).select(col("cell"), col("nid"))
        val extra = live.exceptAll(rebuilt).count()
        val missing = rebuilt.exceptAll(live).count()
        require(extra == 0 && missing == 0,
          s"IVF cells drifted: extra=$extra missing=$missing")
        val viaRebuild = pipeline.Similarity.ivfTopKIndexed(q,
          pipeline.Similarity.ivfAssign(survivors, cents), cents, 10,
          nprobe = 8).orderBy("qid", "rank").collect().map(_.toSeq).toSeq
        require(viaTombs == viaRebuild && viaTombs.nonEmpty,
          "tombstoned IVF top-k != rebuild top-k")
        "match=true"
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }

    // ---- signature-store lifecycle at scale: the third gen door.
    // Ticks through Maintenance.tick over the persisted minhash
    // signature table (one row per doc); the measured tick's
    // inputRecords must be delta-sized and FLAT across 1M→10M docs.
    // The serving composition — a 1,000-doc ingest batch deduped
    // against the LIVE view — is index-sized by design (the band join
    // reads the signature table); the probe twins pin that the gen
    // anti-join adds only tombstone-broadcast input on top of the
    // plain-store read. At 1m the live view must equal fresh
    // signatures of the updated survivors (exceptAll both ways).
    for ((n, tag) <- Seq((1000000L, "1m"), (10000000L, "10m"))
         if Seq(s"lifecycle_sig_tick_$tag", s"lifecycle_sig_probe_$tag",
           s"lifecycle_sig_equiv_$tag").exists(only)) {
      val deep = tag == "1m"
      val m = n / 1000
      val dir = s"/tmp/graft_sig_lifecycle_$tag"
      val door = new pipeline.Maintenance.SigDoor("doc_id", col("text"),
        3, 32)
      def sigWrite(df: org.apache.spark.sql.DataFrame, d: String,
                   mode: String): Unit =
        df.write.mode(mode).parquet(d)
      val store = new pipeline.Maintenance.ParquetStore(spark, dir,
        sigWrite)
      var st: pipeline.Maintenance.State = null
      t(s"lifecycle_sig_build_$tag") {
        sigWrite(pipeline.Dedup.sigStampGen(
          pipeline.Dedup.minhashSignatures(gdocs(spark.range(n).toDF()),
            "doc_id", col("text"), 3, 32), 0L), dir, "overwrite")
        st = pipeline.Maintenance.initialState(spark, door)
        s"n=$n perms=32"
      }
      def sdeltas(i: Int) = (
        gdocs(spark.range(n).toDF().where(col("id") % m === i))
          .localCheckpoint(true),
        gdocs(spark.range(n).toDF().where(col("id") % m === 100 + i))
          .select(col("doc_id"),
            concat(col("text"), lit(updSuffix)).as("text"))
          .localCheckpoint(true),
        gdocs(spark.range(n + i * 1000L, n + (i + 1) * 1000L).toDF())
          .localCheckpoint(true))
      def stick(dels: org.apache.spark.sql.DataFrame,
                upds: org.apache.spark.sql.DataFrame,
                adds: org.apache.spark.sql.DataFrame): String = {
        st = pipeline.Maintenance.tick(door, store, st,
          adds = adds, deletes = dels, updates = upds,
          checkpoint = df => df.localCheckpoint(true))
        pin()
        s"tombstones=${st.tombstones.count()} gen=${st.nextGen}"
      }
      val (sd0, su0, sa0) = sdeltas(0); stick(sd0, su0, sa0)
      val (sd1, su1, sa1) = sdeltas(1); stick(sd1, su1, sa1)
      val (sd2, su2, sa2) = sdeltas(2)
      ti(s"lifecycle_sig_tick_$tag") { stick(sd2, su2, sa2) }
      val ingest = gdocs(spark.range(n + 500000L, n + 501000L).toDF())
        .localCheckpoint(true)
      pin() // ingest must survive the tick stage's sweep
      ti(s"lifecycle_sig_probe_$tag") {
        val (kept, _) = pipeline.Dedup.incrementalDedup(ingest,
          "doc_id", col("text"), st.live(door, store).drop("gen"))
        s"kept=${kept.count()}"
      }
      ti(s"lifecycle_sig_probe_plain_$tag") {
        // no-anti-join twin (dead generations included — input-shape
        // comparison only)
        val (kept, _) = pipeline.Dedup.incrementalDedup(ingest,
          "doc_id", col("text"), store.rows.drop("gen"))
        s"kept=${kept.count()}"
      }
      if (deep) t(s"lifecycle_sig_equiv_$tag") {
        val survivors = gdocs(spark.range(n).toDF()
          .where(!(col("id") % m).isin(0, 1, 2)))
          .select(col("doc_id"),
            when((col("doc_id") % m).isin(100, 101, 102),
              concat(col("text"), lit(updSuffix)))
              .otherwise(col("text")).as("text"))
          .unionByName(gdocs(spark.range(n, n + 3000L).toDF()))
        val rebuilt = pipeline.Dedup.minhashSignatures(survivors,
          "doc_id", col("text"), 3, 32)
        val live = st.live(door, store).drop("gen")
        val extra = live.exceptAll(rebuilt).count()
        val missing = rebuilt.exceptAll(live).count()
        require(extra == 0 && missing == 0,
          s"signatures drifted: extra=$extra missing=$missing")
        "match=true"
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }

    // ---- streaming tailer at scale: the REAL mutationStream (a
    // Structured Streaming query over a file feed, one applyBatch per
    // micro-batch — not a hand-rolled loop) against the 1M-doc BM25
    // versioned store, 20 micro-batches of MIXED mutations (1,000
    // deletes + 1,000 updates + 500 adds each). Evidence sought:
    //  (a) per-batch trigger durations are FLAT across the feed except
    //      the batches where the size-tiered trigger fires its staged
    //      compaction (the one honest corpus-sized rewrite);
    //  (b) the store stays BOUNDED — one effective base + ≤ maxDeltas
    //      live delta dirs after 20 batches;
    //  (c) the committed serving probe stays probe-sized, contrasted
    //      with an UNBOUNDED twin (same bootstrap bytes, copied — not
    //      rebuilt; maxDeltas high enough to never fire) whose serving
    //      plan is a union of 21 scans over dead generations.
    if (Seq("tailer_bootstrap_1m", "tailer_feed_1m", "tailer_stream_1m",
        "tailer_probe_1m").exists(only)) {
      val n = 1000000L
      val m = n / 1000
      val nBatches = 20
      val root = "/tmp/graft_tailer_1m"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      val feedDir = s"$root/feed"
      val dirB = s"$root/bounded"
      val dirU = s"$root/unbounded"
      val door = new pipeline.Maintenance.Bm25Door(col("text"), 256)
      val oldV: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame =
        u => u.select(col("doc_id"), col("old_text").as("text"))
      t("tailer_bootstrap_1m") {
        streaming.IndexMaintenanceStream.bootstrap(spark, door, dirB,
          pipeline.Bm25Index.write(_, _, _), gdocs(spark.range(n).toDF()))
        // the unbounded twin starts from the SAME bytes — a directory
        // copy, not a second 1M-doc build
        org.apache.commons.io.FileUtils.copyDirectory(
          new java.io.File(dirB), new java.io.File(dirU))
        s"n=$n buckets=256"
      }
      t("tailer_feed_1m") {
        // batch i: delete class id%m==i, update class id%m==100+i
        // (old_text = the v0 text the store holds), add 500 fresh ids.
        // One parquet file per batch (staged+moved) so
        // maxFilesPerTrigger=1 replays the feed as 20 micro-batches in
        // write order.
        new java.io.File(feedDir).mkdirs()
        for (i <- 0 until nBatches) {
          val dels = gdocs(spark.range(n).toDF()
            .where(col("id") % m === i))
            .select(lit("delete").as("op"), col("doc_id"), col("text"),
              lit(null).cast("string").as("old_text"))
          val upds = gdocs(spark.range(n).toDF()
            .where(col("id") % m === 100 + i))
            .select(lit("update").as("op"), col("doc_id"),
              concat(col("text"), lit(updSuffix)).as("text"),
              col("text").as("old_text"))
          val adds = gdocs(spark.range(n + i * 500L, n + (i + 1) * 500L)
            .toDF())
            .select(lit("add").as("op"), col("doc_id"), col("text"),
              lit(null).cast("string").as("old_text"))
          val staging = s"$feedDir/stage_$i"
          dels.unionByName(upds).unionByName(adds)
            .coalesce(1).write.parquet(staging)
          val part = new java.io.File(staging).listFiles()
            .find(_.getName.endsWith(".parquet")).get.toPath
          java.nio.file.Files.move(part, java.nio.file.Paths.get(
            feedDir, f"b$i%03d.parquet"))
          org.apache.commons.io.FileUtils.deleteQuietly(
            new java.io.File(staging))
        }
        s"batches=$nBatches rowsPerBatch=2500"
      }
      def runStream(dir: String, maxDeltas: Int): String = {
        val feed = spark.readStream
          .schema("op string, doc_id bigint, text string, old_text string")
          .option("maxFilesPerTrigger", 1)
          .option("pathGlobFilter", "b*.parquet")
          .parquet(feedDir)
        val q = streaming.IndexMaintenanceStream.mutationStream(feed,
          door, dir, pipeline.Bm25Index.write(_, _, _), s"$dir/ckpt",
          Some(oldV), maxDeltas = maxDeltas)
        q.processAllAvailable()
        val durs = q.recentProgress.toSeq
          .map(p => p.batchId -> p.durationMs.get("triggerExecution"))
          .sortBy(_._1)
        q.stop()
        val st = pipeline.Maintenance.loadState(spark,
          s"$dir/state/${streaming.DocsStream.readPointer(spark,
            s"$dir/state").get}")
        val names = new java.io.File(s"$dir/store").listFiles()
          .filter(_.isDirectory).map(_.getName).sorted.toSeq
        val durStr = durs.map { case (b, ms) => s"$b:${ms}ms" }
          .mkString(" ")
        s"compactions=${st.compactions} " +
          s"bases=${names.count(_.startsWith("base_"))} " +
          s"deltas=${names.count(_.startsWith("delta_b"))} " +
          s"tombstones=${st.tombstones.count()} durations=[$durStr]"
      }
      t("tailer_stream_1m") { runStream(dirB, 8) }
      t("tailer_stream_unbounded_1m") { runStream(dirU, 10000) }
      val qts = Seq("w7", "w42", "w2999")
      def probe(dir: String): String = {
        val (view, stats) = streaming.IndexMaintenanceStream
          .currentView(spark, door, dir)
        val leaves = view.queryExecution.optimizedPlan
          .collectLeaves().length
        val top = pipeline.Bm25Index.search(view, stats.get, qts, 10,
          nBuckets = 256).collect()
        s"planLeaves=$leaves top=${top.length} " +
          s"best=${top.headOption.map(_.getLong(0)).getOrElse(-1L)}"
      }
      var topB: Seq[(Long, Long)] = Nil
      ti("tailer_probe_1m") {
        val r = probe(dirB)
        val (view, stats) = streaming.IndexMaintenanceStream
          .currentView(spark, door, dirB)
        topB = pipeline.Bm25Index.search(view, stats.get, qts, 10, 256)
          .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
        r
      }
      ti("tailer_probe_unbounded_1m") {
        val r = probe(dirU)
        // and the two stores answer IDENTICALLY — the bound changes
        // the layout, never the result
        val (view, stats) = streaming.IndexMaintenanceStream
          .currentView(spark, door, dirU)
        val topU = pipeline.Bm25Index.search(view, stats.get, qts, 10,
          256).collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
        require(topU == topB && topB.nonEmpty,
          s"bounded/unbounded stores disagree:\n$topB\n$topU")
        r
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }

    // ---- the IVF door through the SAME real mutationStream at 1M
    // vectors: the tailer is door-generic, so the second gen-store
    // family must show the same flat-tick / bounded-store shape. 20
    // mixed batches (1,000 deletes + 1,000 reversed-embedding updates
    // + 500 adds); the committed partition-pruned probe closes it.
    if (Seq("tailer_ivf_stream_1m", "tailer_ivf_probe_1m")
        .exists(only)) {
      val n = 1000000L
      val m = n / 1000
      val nBatches = 20
      val root = "/tmp/graft_tailer_ivf_1m"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      val feedDir = s"$root/feed"
      val dir = s"$root/store_root"
      val gemb = expr(
        """transform(sequence(0, 15), d ->
             cast(pmod(xxhash64(id, d), 1000) / 500.0 - 1.0 as float))""")
      def gvecs(ids: org.apache.spark.sql.DataFrame) =
        ids.select(col("id").as("vec_id"), gemb.as("embedding"))
      def ivfWrite(df: org.apache.spark.sql.DataFrame, d: String,
                   mode: String): Unit =
        df.write.partitionBy("cell").mode(mode).parquet(d)
      var cents: Seq[(Long, Array[Double])] = Nil
      var door: pipeline.Maintenance.IvfDoor = null
      t("tailer_ivf_bootstrap_1m") {
        cents = pipeline.Similarity.centroids(
          gvecs(spark.range(n).toDF()), 256)
        door = new pipeline.Maintenance.IvfDoor(cents)
        streaming.IndexMaintenanceStream.bootstrap(spark, door, dir,
          ivfWrite, gvecs(spark.range(n).toDF()))
        s"n=$n nlist=256"
      }
      t("tailer_ivf_feed_1m") {
        new java.io.File(feedDir).mkdirs()
        for (i <- 0 until nBatches) {
          val dels = gvecs(spark.range(n).toDF()
            .where(col("id") % m === i))
            .select(lit("delete").as("op"), col("vec_id"),
              col("embedding"))
          val upds = gvecs(spark.range(n).toDF()
            .where(col("id") % m === 100 + i))
            .select(lit("update").as("op"), col("vec_id"),
              reverse(col("embedding")).as("embedding"))
          val adds = gvecs(spark.range(n + i * 500L, n + (i + 1) * 500L)
            .toDF())
            .select(lit("add").as("op"), col("vec_id"), col("embedding"))
          val staging = s"$feedDir/stage_$i"
          dels.unionByName(upds).unionByName(adds)
            .coalesce(1).write.parquet(staging)
          val part = new java.io.File(staging).listFiles()
            .find(_.getName.endsWith(".parquet")).get.toPath
          java.nio.file.Files.move(part, java.nio.file.Paths.get(
            feedDir, f"b$i%03d.parquet"))
          org.apache.commons.io.FileUtils.deleteQuietly(
            new java.io.File(staging))
        }
        s"batches=$nBatches rowsPerBatch=2500"
      }
      t("tailer_ivf_stream_1m") {
        val feed = spark.readStream
          .schema("op string, vec_id bigint, embedding array<float>")
          .option("maxFilesPerTrigger", 1)
          .option("pathGlobFilter", "b*.parquet")
          .parquet(feedDir)
        val q = streaming.IndexMaintenanceStream.mutationStream(feed,
          door, dir, ivfWrite, s"$dir/ckpt", maxDeltas = 8)
        q.processAllAvailable()
        val durs = q.recentProgress.toSeq
          .map(p => p.batchId -> p.durationMs.get("triggerExecution"))
          .sortBy(_._1)
        q.stop()
        val st = pipeline.Maintenance.loadState(spark,
          s"$dir/state/${streaming.DocsStream.readPointer(spark,
            s"$dir/state").get}")
        val names = new java.io.File(s"$dir/store").listFiles()
          .filter(_.isDirectory).map(_.getName).sorted.toSeq
        s"compactions=${st.compactions} " +
          s"bases=${names.count(_.startsWith("base_"))} " +
          s"deltas=${names.count(_.startsWith("delta_b"))} " +
          s"tombstones=${st.tombstones.count()} durations=[" +
          durs.map { case (b, ms) => s"$b:${ms}ms" }.mkString(" ") + "]"
      }
      // query ids ≡ 500 (mod m): never deleted or updated
      val q5 = gvecs(spark.range(5).toDF()
        .select((col("id") * m + 500L).as("id"))).localCheckpoint(true)
      pin()
      ti("tailer_ivf_probe_1m") {
        val (view, _) = streaming.IndexMaintenanceStream
          .currentView(spark, door, dir)
        val leaves = view.queryExecution.optimizedPlan
          .collectLeaves().length
        val rows = pipeline.VectorLeg.Ivf(view, cents, 8).batch(q5, 10)
          .count()
        s"planLeaves=$leaves rows=$rows"
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }

    // ---- batched hybrid serving at scale: the amortization claim.
    // 16 three-term queries probe the 1M-doc posting index BATCHED
    // (one union-bucket pass, per-query fan-out) vs SEQUENTIALLY (16
    // independent searches). The batch pays the UNION of the touched
    // buckets, the loop pays the SUM — so the records saved equal the
    // overlap. The fixture models the realistic zipf head: every query
    // shares two hot terms (w7, w42) plus one unique tail term, so the
    // union is 18 terms where the sum is 48 bucket touches. (A
    // disjoint-term batch — measured while building this stage — reads
    // the same records either way, 9.18M vs 9.79M, and still wins
    // ~1.7× wall from shared scan/job overhead; overlap is where the
    // big records win comes from.) Every per-query answer must equal
    // the single-query search (asserted per query on the top row).
    if (Seq("hybrid_batch_index_build_1m", "hybrid_batch_probe")
        .exists(only)) {
      val n = 1000000L
      val dir = "/tmp/graft_hybrid_batch_1m"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      var bstats: org.apache.spark.sql.DataFrame = null
      t("hybrid_batch_index_build_1m") {
        val (postings, st) = pipeline.Bm25Index.build(
          gdocs(spark.range(n).toDF()), col("doc_id"), col("text"),
          nBuckets = 256)
        pipeline.Bm25Index.write(postings, dir)
        val r = st.collect().head
        bstats = spark.range(1).select(lit(r.getLong(0)).as("n"),
          lit(r.getLong(1)).as("total_len"))
        s"n=${r.getLong(0)}"
      }
      val reloaded = spark.read.parquet(dir)
      val qbatch = (0 until 16).map(i =>
        (i.toLong, Seq("w7", "w42", s"w${2900 + i}")))
      var batched: Map[(Long, Long), Long] = Map.empty
      ti("hybrid_batch_probe_batched_1m") {
        val rows = pipeline.Bm25Index.searchBatch(reloaded, bstats,
          qbatch, 10, 256).collect()
        batched = rows.map(r =>
          (r.getLong(0), r.getLong(3)) -> r.getLong(1)).toMap
        s"rows=${rows.length} queries=${qbatch.size}"
      }
      ti("hybrid_batch_probe_sequential_1m") {
        var total = 0
        for ((qid, ts) <- qbatch) {
          val alone = pipeline.Bm25Index.search(reloaded, bstats, ts,
            10, 256).collect()
          total += alone.length
          // batched ≡ alone, spot-checked on every query's top row
          require(alone.isEmpty ||
            batched((qid, 1L)) == alone.head.getLong(0),
            s"batched top-1 diverged for qid $qid")
        }
        s"rows=$total queries=${qbatch.size}"
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }

    // ---- BATCHED STORE-BACKED hybrid at 1M (Retrieval.storeHybrid
    // over an IVF leg): the round-14 batch amortization and the
    // round-14 min-committed-batch store consistency COMPOSED — both
    // gen stores carry a mixed mutation batch (1,000 tombstoned
    // deletes + 1,000 gen updates + 1,000 adds each), so the probes
    // run through tombstone anti-joins over base+delta layouts, and 16
    // hybrid queries are answered in ONE pass per index at one
    // consistent asOf. The claim: batched records ≈ union-of-buckets +
    // probed-cells (+ tombstone-sized anti-join sides), NOT 16× either
    // — the sequential twin measures the counterfactual, and every
    // query's top-1 must match its single-query fused answer.
    if (Seq("hybrid_store_bootstrap_1m", "hybrid_store_batch")
        .exists(only)) {
      val n = 1000000L
      val m = n / 1000
      val root = "/tmp/graft_hybrid_store_1m"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      val bmDir = s"$root/bm"
      val ivfDir = s"$root/ivf"
      val gemb = expr(
        """transform(sequence(0, 15), d ->
             cast(pmod(xxhash64(id, d), 1000) / 500.0 - 1.0 as float))""")
      def gvecs(ids: org.apache.spark.sql.DataFrame) =
        ids.select(col("id").as("vec_id"), gemb.as("embedding"))
      def ivfWrite(df: org.apache.spark.sql.DataFrame, d: String,
                   mode: String): Unit =
        df.write.partitionBy("cell").mode(mode).parquet(d)
      var cents: Seq[(Long, Array[Double])] = Nil
      var bmDoor: pipeline.Maintenance.Bm25Door = null
      var ivfDoor: pipeline.Maintenance.IvfDoor = null
      t("hybrid_store_bootstrap_1m") {
        bmDoor = new pipeline.Maintenance.Bm25Door(col("text"), 256)
        streaming.IndexMaintenanceStream.bootstrap(spark, bmDoor, bmDir,
          pipeline.Bm25Index.write, gdocs(spark.range(n).toDF()))
        cents = pipeline.Similarity.centroids(
          gvecs(spark.range(n).toDF()), 256)
        ivfDoor = new pipeline.Maintenance.IvfDoor(cents)
        streaming.IndexMaintenanceStream.bootstrap(spark, ivfDoor,
          ivfDir, ivfWrite, gvecs(spark.range(n).toDF()))
        // one mixed batch per store: the serving views must be
        // tombstone-filtered base+delta layouts, not pristine bases
        val oldV: org.apache.spark.sql.DataFrame =>
            org.apache.spark.sql.DataFrame =
          u => u.select(col("doc_id"), col("old_text").as("text"))
        val bmB0 = gdocs(spark.range(n).toDF()
          .where(col("id") % m === 0))
          .select(lit("delete").as("op"), col("doc_id"), col("text"),
            lit(null).cast("string").as("old_text"))
          .unionByName(gdocs(spark.range(n).toDF()
            .where(col("id") % m === 100))
            .select(lit("update").as("op"), col("doc_id"),
              concat(col("text"), lit(updSuffix)).as("text"),
              col("text").as("old_text")))
          .unionByName(gdocs(spark.range(n, n + 1000L).toDF())
            .select(lit("add").as("op"), col("doc_id"), col("text"),
              lit(null).cast("string").as("old_text")))
        streaming.IndexMaintenanceStream.applyBatch(spark, bmDoor,
          bmDir, pipeline.Bm25Index.write, bmB0, 0L, Some(oldV))
        val ivfB0 = gvecs(spark.range(n).toDF()
          .where(col("id") % m === 0))
          .select(lit("delete").as("op"), col("vec_id"),
            col("embedding"))
          .unionByName(gvecs(spark.range(n).toDF()
            .where(col("id") % m === 100))
            .select(lit("update").as("op"), col("vec_id"),
              reverse(col("embedding")).as("embedding")))
          .unionByName(gvecs(spark.range(n, n + 1000L).toDF())
            .select(lit("add").as("op"), col("vec_id"),
              col("embedding")))
        streaming.IndexMaintenanceStream.applyBatch(spark, ivfDoor,
          ivfDir, ivfWrite, ivfB0, 0L)
        s"n=$n mutated=3000+3000"
      }
      // query ids ≡ 500 (mod m): never deleted or updated; the same
      // zipf-head term batch as hybrid_batch_probe (two hot terms
      // shared, one unique tail term per query)
      val qbatch = (0 until 16).map(i =>
        (i * m + 500L, Seq("w7", "w42", s"w${2900 + i}")))
      val qvecs = gvecs(spark.range(16).toDF()
        .select((col("id") * m + 500L).as("id"))).localCheckpoint(true)
      val ivfLeg = pipeline.VectorLeg.ivfStore(ivfDoor, ivfDir, cents, 8)
      pin()
      var batched: Map[(Long, Long), Long] = Map.empty
      ti("hybrid_store_batch_batched_1m") {
        val rows = pipeline.Retrieval.storeHybrid(spark, bmDoor, bmDir,
          256, ivfLeg, pipeline.Retrieval.BatchQuery(qvecs, qbatch),
          k = 10, legK = 20).collect()
        batched = rows.map(r =>
          (r.getLong(0), r.getLong(4)) -> r.getLong(1)).toMap
        s"rows=${rows.length} queries=${qbatch.size}"
      }
      ti("hybrid_store_batch_sequential_1m") {
        var total = 0
        for ((qid, ts) <- qbatch) {
          val alone = pipeline.Retrieval.storeHybrid(spark, bmDoor,
            bmDir, 256, ivfLeg, pipeline.Retrieval.BatchQuery(
              qvecs.where(col("vec_id") === qid), Seq(qid -> ts)),
            k = 10, legK = 20).orderBy("rank").select("doc_id").collect()
          total += alone.length
          // batched ≡ alone, spot-checked on every query's top row; a
          // MISSING batched rank-1 row is itself the divergence being
          // hunted, so it must fail the require, not throw NoSuchElement
          require(alone.isEmpty ||
            batched.get((qid, 1L)).contains(alone.head.getLong(0)),
            s"store-batched top-1 diverged for qid $qid: batched=" +
              s"${batched.get((qid, 1L))} alone=${alone.head.getLong(0)}")
        }
        s"rows=$total queries=${qbatch.size}"
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }

    // ---- retrieval EVALUATION at 1M: the metric computation after
    // ranking must be ranked-result + qrels-sized — never re-touching
    // the 40M-posting index. The eval stage's inputRecords ≈ the
    // checkpointed 320 result rows + ~700k qrels rows (1M/23 per
    // query × 16), orders of magnitude under the index.
    if (Seq("retrieval_eval").exists(only)) {
      val n = 1000000L
      val dir = "/tmp/graft_eval_1m"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      var bstats: org.apache.spark.sql.DataFrame = null
      t("retrieval_eval_index_build_1m") {
        val (postings, st) = pipeline.Bm25Index.build(
          gdocs(spark.range(n).toDF()), col("doc_id"), col("text"),
          nBuckets = 256)
        pipeline.Bm25Index.write(postings, dir)
        val r = st.collect().head
        bstats = spark.range(1).select(lit(r.getLong(0)).as("n"),
          lit(r.getLong(1)).as("total_len"))
        s"n=${r.getLong(0)}"
      }
      val reloaded = spark.read.parquet(dir)
      val qbatch = (0 until 16).map(i =>
        (i.toLong, Seq("w7", "w42", s"w${2900 + i}")))
      var ranked: org.apache.spark.sql.DataFrame = null
      t("retrieval_eval_rank_1m") {
        ranked = pipeline.Bm25Index.searchBatch(reloaded, bstats,
          qbatch, 20, 256).localCheckpoint(true)
        pin()
        s"rows=${ranked.count()}"
      }
      val qrels = qbatch.map(_._1).toDF("qid")
        .crossJoin(spark.range(n).select(col("id").as("doc_id")))
        .where((col("doc_id") + col("qid") * 3) % 23 === 0)
        .localCheckpoint(true)
      pin()
      ti("retrieval_eval_metrics_1m") {
        val pq = pipeline.Retrieval.evalMetrics(
          ranked.select(col("qid"), col("doc_id"), col("rank")),
          qrels, 20)
        val m = pipeline.Retrieval.evalMacro(pq).collect().head
        s"queries=${m.getLong(0)} qrels=${qrels.count()} " +
          s"macroRecall=${m.getLong(1)}ppm macroMrr=${m.getLong(2)}ppm " +
          s"macroMap=${m.getLong(3)}ppm"
      }
      // ---- the SWEEP's cost shape at 1M: V fusion variants of the
      // same two ranked legs. evalSweep materializes the legs once, so
      // the per-variant marginal cost must be fusion (leg-k-sized) +
      // the qrels-sized metric pass — never an index re-probe, never
      // per (variant × query). Twin runs at V=2 and V=6 make the
      // marginal mechanically visible: (records6 − records2) / 4 ≈
      // |qrels| + fused rows, orders of magnitude under the 40M-row
      // index either sweep ranks against.
      if (only("retrieval_eval_sweep_1m")) {
        val gembS = expr(
          """transform(sequence(0, 15), d ->
               cast(pmod(xxhash64(id, d), 1000) / 500.0 - 1.0 as float))""")
        val corpusV = spark.range(n)
          .select(col("id").as("vec_id"), gembS.as("embedding"))
        val centsS = pipeline.Similarity.centroids(corpusV, 256)
        val ivfIdx = pipeline.Similarity.ivfAssign(corpusV, centsS)
        val qvecs = qbatch.map(_._1).toDF("id")
          .select(col("id").as("vec_id"), gembS.as("embedding"))
        def vecLeg = pipeline.Similarity.ivfTopKIndexed(qvecs, ivfIdx,
          centsS, 20, nprobe = 8)
          .select(col("qid"), col("nid").as("doc_id"), col("rank"))
        def grid(v: Int): Seq[(Long, (Long, Long), Int)] =
          (1 to v).map(i => (i.toLong,
            (500000L + i * 250000L, 2000000L - i * 250000L), 60))
        val nQrels = qrels.count()
        var rec2 = 0L
        t("retrieval_eval_sweep_1m_v2", { a =>
          rec2 = a.inputRecords; s"inputRecords=$rec2" }) {
          val out = pipeline.Retrieval.evalSweep(ranked, vecLeg,
            grid(2), k = 10, qrels, evalK = 10).collect()
          s"variants=${out.length} bestMap=${out.head.getLong(7)}ppm"
        }
        t("retrieval_eval_sweep_1m_v6", a =>
            s"marginalRecordsPerVariant=${(a.inputRecords - rec2) / 4} " +
              s"inputRecords=${a.inputRecords}") {
          val out = pipeline.Retrieval.evalSweep(ranked, vecLeg,
            grid(6), k = 10, qrels, evalK = 10).collect()
          s"variants=${out.length} bestMap=${out.head.getLong(7)}ppm " +
            s"(qrels=$nQrels)"
        }
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }

    // ---- the PQ-CODE serving store at 1M (Maintenance.IvfPqDoor):
    // the memory-bounded billion-vector regime — the maintained store
    // holds (cell, nid, codes) rows instead of float vectors. Claims
    // measured: (1) the code store's on-disk bytes are a small
    // fraction of the full-vector store's under identical layout
    // (same partitioning, same writer); (2) after a mixed mutation
    // batch through the versioned layout, the pruned ADC probe over
    // the maintained store EQUALS a from-scratch re-encode of the
    // mutated corpus under the same frozen quantizers (per-query,
    // asserted); (3) ADC recall@10 vs exact brute force sits next to
    // the full-vector IVF probe's recall at EQUAL nprobe — what the
    // compression costs at scale, measured not conjectured.
    if (Seq("ivfpq_store_bootstrap_1m", "ivfpq_store_mutate_1m",
        "ivfpq_store_probe_1m").exists(only)) {
      val n = 1000000L
      val m = n / 1000
      val root = "/tmp/graft_ivfpq_store_1m"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      val dir = s"$root/store_root"
      val fvDir = s"$root/fullvec"
      val gemb = expr(
        """transform(sequence(0, 63), d ->
             cast(pmod(xxhash64(id, d), 2000) / 1000.0 - 1.0 as float))""")
      def gvecs(ids: org.apache.spark.sql.DataFrame) =
        ids.select(col("id").as("vec_id"), gemb.as("embedding"))
      def pqWrite(df: org.apache.spark.sql.DataFrame, d: String,
                  mode: String): Unit =
        df.write.partitionBy("cell").mode(mode).parquet(d)
      def dirBytes(d: String): Long =
        org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(d))
      var cents: Seq[(Long, Array[Double])] = Nil
      var cbs: Array[Array[Array[Double]]] = null
      var door: pipeline.Maintenance.IvfPqDoor = null
      t("ivfpq_store_bootstrap_1m") {
        val corpus = gvecs(spark.range(n).toDF())
        cents = pipeline.Similarity.centroids(corpus, 256)
        cbs = pipeline.Similarity.pqCodebooks(corpus, 8, 256)
        door = new pipeline.Maintenance.IvfPqDoor(cents, cbs)
        streaming.IndexMaintenanceStream.bootstrap(spark, door, dir,
          pqWrite, corpus)
        // the counterfactuals: the SAME corpus as a full-vector cell
        // store and as an SQ8 int8 store under the same writer/layout —
        // the bytes axis of the three-tier spectrum
        pqWrite(pipeline.Similarity.ivfStampGen(
          pipeline.Similarity.ivfAssign(corpus, cents), 0L), fvDir,
          "overwrite")
        pqWrite(pipeline.Similarity.ivfStampGen(
          pipeline.Similarity.sq8Assign(corpus, cents), 0L),
          s"$root/sq8", "overwrite")
        val (code, sq8, full) = (dirBytes(s"$dir/store"),
          dirBytes(s"$root/sq8"), dirBytes(fvDir))
        require(full > 4L * code,
          s"code store not meaningfully smaller: $code vs $full")
        f"codeBytes=$code sq8Bytes=$sq8 fullVecBytes=$full ratio=${
          full.toDouble / code}%.1f sq8Ratio=${
          full.toDouble / sq8}%.1f (m=8 ksub=256 d=64 nlist=256)"
      }
      t("ivfpq_store_mutate_1m") {
        val b0 = gvecs(spark.range(n).toDF().where(col("id") % m === 0))
          .select(lit("delete").as("op"), col("vec_id"), col("embedding"))
          .unionByName(gvecs(spark.range(n).toDF()
            .where(col("id") % m === 100))
            .select(lit("update").as("op"), col("vec_id"),
              reverse(col("embedding")).as("embedding")))
          .unionByName(gvecs(spark.range(n, n + 500L).toDF())
            .select(lit("add").as("op"), col("vec_id"), col("embedding")))
        streaming.IndexMaintenanceStream.applyBatch(spark, door, dir,
          pqWrite, b0, 0L)
        s"n=$n mutated=2000+500"
      }
      // query ids ≡ 500 (mod m): never deleted or updated
      val qpq = gvecs(spark.range(10).toDF()
        .select((col("id") * m + 500L).as("id"))).localCheckpoint(true)
      pin()
      ti("ivfpq_store_probe_1m") {
        val (view, _) = streaming.IndexMaintenanceStream
          .currentView(spark, door, dir)
        val served = pipeline.VectorLeg.Pq(view, cents, cbs, 8)
          .batch(qpq, 10)
          .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1))
          .toMap
        // counterfactual rebuild: the mutated corpus re-encoded from
        // scratch under the SAME frozen tables — must agree per query
        val mutated = gvecs(spark.range(n).toDF()
            .where(col("id") % m =!= 0 && col("id") % m =!= 100))
          .unionByName(gvecs(spark.range(n).toDF()
            .where(col("id") % m === 100))
            .select(col("vec_id"), reverse(col("embedding")).as("embedding")))
          .unionByName(gvecs(spark.range(n, n + 500L).toDF()))
        val rebuilt = pipeline.Similarity.ivfPqTopKIndexed(qpq,
          pipeline.Similarity.ivfPqAssign(mutated, cents, cbs), cents,
          cbs, 10, nprobe = 8)
          .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1))
          .toMap
        require(served == rebuilt,
          "maintained PQ store diverged from the frozen-table rebuild")
        // recall vs exact brute force, next to the full-vector IVF
        // probe at EQUAL nprobe — the compression's measured cost —
        // and the production answer to it: an exact RERANK tail that
        // ADC-ranks 100 candidates from the code store, then fetches
        // only those queries×100 full vectors from the primary store
        // (here: the corpus frame) for an exact top-10. Uniform random
        // vectors are PQ's worst case (no cluster structure for the
        // codebooks to spend entries on), so the raw ADC number is the
        // honest floor, not the served quality.
        val exact = pipeline.Similarity.bruteForceTopK(qpq, mutated, 10)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val adcHits = served.toSeq.map { case ((q, _), nid) => (q, nid) }
          .count(exact.contains)
        val fvHits = pipeline.Similarity.ivfTopKIndexed(qpq,
          pipeline.Similarity.ivfAssign(mutated, cents), cents, 10,
          nprobe = 8)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
          .count(exact.contains)
        // r17: the rerank row is now STORE-SERVED — the door's own
        // VectorLeg.Pq with its tail (ADC-100 from the code store,
        // queries×100 full-vector refetch from the side table) — and
        // pinned bit-identical to r16's hand-composed formulation, so
        // the ledger's 28/100 is what the serving door actually ships
        val rerankServed = pipeline.VectorLeg.Pq(view, cents, cbs, 8,
            Some((100, mutated.select(col("vec_id"), col("embedding")))))
          .batch(qpq, 10)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val cand100 = pipeline.VectorLeg.Pq(view, cents, cbs, 8)
          .batch(qpq, 100).select("qid", "nid")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid"))
          .orderBy(col("sim").desc, col("nid").asc)
        val rerankHand = mutated
          .select(col("vec_id").as("nid"), col("embedding").as("nvec"))
          .join(broadcast(cand100), Seq("nid"))
          .join(broadcast(qpq.select(col("vec_id").as("qid"),
            col("embedding").as("qvec"))), Seq("qid"))
          .withColumn("sim", pipeline.Similarity.cosine(
            col("qvec"), col("nvec")))
          .withColumn("rank", row_number().over(w))
          .where(col("rank") <= 10)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        require(rerankServed == rerankHand,
          "store-served rerank diverged from the hand-composed tail")
        val rerankHits = rerankServed.count(exact.contains)
        // the RESIDUAL door's accuracy-per-byte claim at the same
        // scale: train residual codebooks on the base corpus (the
        // frozen-door shape), re-encode the mutated corpus, probe at
        // the same nprobe — same code bytes per vector as the raw
        // store, recall measured side by side
        val rcbs = pipeline.Similarity.ivfPqResidualTrain(
          gvecs(spark.range(n).toDF()), cents, 8, 256, trainIters = 1)
        val residHits = pipeline.Similarity.ivfPqResidualTopKIndexed(
          qpq, pipeline.Similarity.ivfPqResidualAssign(mutated, cents,
            rcbs), cents, rcbs, 10, nprobe = 8)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
          .count(exact.contains)
        // the SQ8 middle tier at the same nprobe: d bytes/vector,
        // no rerank tail — where 4× compression sits on the spectrum
        val sq8Hits = pipeline.Similarity.sq8TopKIndexed(qpq,
          pipeline.Similarity.sq8Assign(mutated, cents), cents, 10,
          nprobe = 8)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
          .count(exact.contains)
        s"servedRows=${served.size} adcRecall=$adcHits/100 " +
          s"residualAdcRecall=$residHits/100 sq8Recall=$sq8Hits/100 " +
          s"fullVecRecall=$fvHits/100 " +
          s"rerankRecall=$rerankHits/100 (nprobe=8 all)"
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }

    // ---- the ANN tuning sweep at 1M (Retrieval.annRecallSweep): the
    // recall-vs-cost curve read off a PERSISTED cell-partitioned IVF
    // store. The claim: per-variant cost ∝ nprobe — each variant's
    // probe reads ~nprobe/nlist of the store's partitions (the literal
    // cell pruning), so the np=64 twin reads ~16× the records of the
    // np=4 twin while the exact reference (materialized once) and the
    // metric pass stay query-sample-sized.
    if (Seq("ann_sweep").exists(only)) {
      val n = 1000000L
      val dir = "/tmp/graft_ann_sweep_1m"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val gemb = expr(
        """transform(sequence(0, 15), d ->
             cast(pmod(xxhash64(id, d), 1000) / 500.0 - 1.0 as float))""")
      val corpus = spark.range(n)
        .select(col("id").as("vec_id"), gemb.as("embedding"))
      var cents: Seq[(Long, Array[Double])] = Nil
      t("ann_sweep_index_build_1m") {
        cents = pipeline.Similarity.centroids(corpus, 256)
        pipeline.Similarity.ivfAssign(corpus, cents)
          .write.partitionBy("cell").parquet(dir)
        s"n=$n nlist=256"
      }
      val reloaded = spark.read.parquet(dir)
      val q8 = spark.range(8)
        .select((col("id") * 1000L + 500L).as("id"))
        .select(col("id").as("vec_id"), gemb.as("embedding"))
        .localCheckpoint(true)
      val exact = pipeline.Similarity.bruteForceTopK(q8, corpus, 10)
        .select(col("qid"), col("nid")).localCheckpoint(true)
      def sweep(nprobes: Int*) = pipeline.Retrieval.annRecallSweep(q8,
        Seq("nprobe"), nprobes.map(np => Seq(np.toLong) ->
          pipeline.VectorLeg.Ivf(reloaded, cents, np)), 10, exact)
      pin()
      ti("ann_sweep_np4_1m") {
        val r = sweep(4).collect().head
        s"nprobe=4 recall=${r.getLong(2)}ppm"
      }
      ti("ann_sweep_np64_1m") {
        val r = sweep(64).collect().head
        s"nprobe=64 recall=${r.getLong(2)}ppm"
      }
      ti("ann_sweep_curve_1m") {
        val rows = sweep(1, 4, 16, 64).collect()
        rows.map(r => s"np${r.getLong(0)}=${r.getLong(2)}ppm")
          .mkString(" ")
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }

    // ---- the CODE-STORE tuning sweep at 1M (Retrieval
    // .annRecallSweep over PQ legs): the 2-D operating surface of the
    // memory-bounded tier — nprobe scales the ADC records scanned off
    // the persisted code store (the partition pruning), rerankC scales
    // the full-vector rows the exact tail refetches (queries×rerankC —
    // tiny against the scan at every point). Claims: per-point records
    // ∝ nprobe (the tail's refetch is noise), recall climbs with BOTH
    // knobs, and the rerank tail recovers most of the ADC gap at
    // rerankC ≪ corpus.
    if (Seq("pq_sweep").exists(only)) {
      val n = 1000000L
      val dir = "/tmp/graft_pq_sweep_1m"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val gemb = expr(
        """transform(sequence(0, 63), d ->
             cast(pmod(xxhash64(id, d), 2000) / 1000.0 - 1.0 as float))""")
      val corpus = spark.range(n)
        .select(col("id").as("vec_id"), gemb.as("embedding"))
      var cents: Seq[(Long, Array[Double])] = Nil
      var cbs: Array[Array[Array[Double]]] = null
      t("pq_sweep_index_build_1m") {
        cents = pipeline.Similarity.centroids(corpus, 256)
        cbs = pipeline.Similarity.pqCodebooks(corpus, 8, 256)
        pipeline.Similarity.ivfPqAssign(corpus, cents, cbs)
          .write.partitionBy("cell").parquet(dir)
        // the full-vector refetch side as a deployment keeps it:
        // cell-partitioned under the SAME frozen quantizer, so the
        // rerank tail's literal cell filter prunes the refetch scan
        pipeline.Similarity.ivfAssign(corpus, cents)
          .write.partitionBy("cell").parquet(s"$dir.fullvec")
        s"n=$n nlist=256 m=8 ksub=256"
      }
      val reloaded = spark.read.parquet(dir)
      val q8 = spark.range(8)
        .select((col("id") * 1000L + 500L).as("id"))
        .select(col("id").as("vec_id"), gemb.as("embedding"))
        .localCheckpoint(true)
      val exact = pipeline.Similarity.bruteForceTopK(q8, corpus, 10)
        .select(col("qid"), col("nid")).localCheckpoint(true)
      val vectors = spark.read.parquet(s"$dir.fullvec")
      def sweep(grid: (Int, Int)*) = pipeline.Retrieval.annRecallSweep(q8,
        Seq("nprobe", "rerank_c"), grid.map { case (np, rc) =>
          Seq(np.toLong, rc.toLong) ->
            pipeline.VectorLeg.Pq(reloaded, cents, cbs, np,
              Some((rc, vectors)))
        }, 10, exact)
      pin()
      ti("pq_sweep_np4_rc100_1m") {
        val r = sweep((4, 100)).collect().head
        s"np=4 rc=100 recall=${r.getLong(3)}ppm"
      }
      ti("pq_sweep_np32_rc100_1m") {
        val r = sweep((32, 100)).collect().head
        s"np=32 rc=100 recall=${r.getLong(3)}ppm"
      }
      ti("pq_sweep_surface_1m") {
        val rows = sweep((4, 10), (4, 100), (32, 10), (32, 100),
          (32, 400)).collect()
        rows.map(r => s"np${r.getLong(0)}rc${r.getLong(1)}=" +
          s"${r.getLong(3)}ppm").mkString(" ")
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$dir.fullvec"))
    }

    // ---- SQ8 on a CLUSTERED / heavy-tailed 1M fixture — the tier's
    // HARD case, stressing the r17 ledger's fixture-derived "no rerank
    // needed" claim: each vector carries one dominant component (its
    // cluster's), so per-vector absmax quantization crushes the
    // DISCRIMINATING small components onto ~5 int8 levels, and within
    // a cluster the int8 cosine can no longer separate true neighbors
    // (uniform vectors — the r17 fixture — are close to SQ8's BEST
    // case: components share magnitude and no range is wasted).
    // Measured here: bare-SQ8 vs full-vector recall on this fixture,
    // the rerank tail's recall payback and its refetch record cost,
    // and the margin-routed adaptive door's cost in between.
    if (Seq("sq8_clustered", "sq8_sweep").exists(only)) {
      val n = 1000000L
      val dir = "/tmp/graft_sq8_clustered_1m"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$dir.fullvec"))
      // 64 planted clusters: dominant dim = cluster id, magnitude 40
      // vs noise in [-1, 1) — absmax ≈ 41, so noise quantizes to
      // round(x·127/41) ∈ {-3..3}
      val cemb = expr(
        """transform(sequence(0, 63), d ->
             cast((case when d = id % 64 then 40.0 else 0.0 end)
               + pmod(xxhash64(id, d), 2000) / 1000.0 - 1.0 as float))""")
      val corpus = spark.range(n)
        .select(col("id").as("vec_id"), cemb.as("embedding"))
      var cents: Seq[(Long, Array[Double])] = Nil
      t("sq8_clustered_build_1m") {
        cents = pipeline.Similarity.centroids(corpus, 256)
        pipeline.Similarity.sq8Assign(corpus, cents)
          .write.partitionBy("cell").parquet(dir)
        pipeline.Similarity.ivfAssign(corpus, cents)
          .write.partitionBy("cell").parquet(s"$dir.fullvec")
        def dirBytes(p: String): Long =
          org.apache.commons.io.FileUtils.sizeOfDirectory(
            new java.io.File(p))
        f"n=$n nlist=256 sq8Bytes=${dirBytes(dir)} " +
          f"fullVecBytes=${dirBytes(s"$dir.fullvec")}"
      }
      val sq8Index = spark.read.parquet(dir)
      val fullIndex = spark.read.parquet(s"$dir.fullvec")
      val q10 = spark.range(10)
        .select((col("id") * 1000L + 500L).as("id"))
        .select(col("id").as("vec_id"), cemb.as("embedding"))
        .localCheckpoint(true)
      val exact = pipeline.Similarity.bruteForceTopK(q10, corpus, 10)
        .select(col("qid"), col("nid")).localCheckpoint(true)
      val tail = Some((50, fullIndex.select(col("cell"), col("nid"),
        col("ne"))))
      def sweep(nprobes: Seq[Int], leg: Int => pipeline.VectorLeg) =
        pipeline.Retrieval.annRecallSweep(q10, Seq("nprobe"),
          nprobes.map(np => Seq(np.toLong) -> leg(np)), 10, exact)
      pin()
      if (only("sq8_clustered")) {
        ti("sq8_clustered_bare_vs_full_1m") {
          val bare = sweep(Seq(8), pipeline.VectorLeg.Sq8(sq8Index, cents,
            _)).collect().head.getLong(2)
          val full = sweep(Seq(8), pipeline.VectorLeg.Ivf(fullIndex,
            cents, _)).collect().head.getLong(2)
          s"np=8 sq8Recall=${bare}ppm fullVecRecall=${full}ppm"
        }
        ti("sq8_clustered_rerank_1m") {
          val tailed = sweep(Seq(8), pipeline.VectorLeg.Sq8(sq8Index,
            cents, _, tail)).collect().head.getLong(2)
          s"np=8 rerankC=50 recall=${tailed}ppm (cell-pruned refetch)"
        }
        ti("sq8_clustered_adaptive_1m") {
          // threshold read off the measured margin census, the
          // deployment loop: median margin → ~half the queries route
          val margins = pipeline.Similarity.sq8CutMargins(q10, sq8Index,
            cents, 10, 8, 50).collect()
            .flatMap(r => if (r.isNullAt(1)) None else Some(r.getLong(1)))
            .sorted
          val thr = margins(margins.length / 2)
          val routed = margins.count(_ < thr)
          val res = pipeline.VectorLeg.Sq8Adaptive(sq8Index, cents, 8, 50,
            thr, fullIndex.select(col("cell"), col("nid"), col("ne")))
            .batch(q10, 10)
          val m = pipeline.Retrieval.evalMacro(
            pipeline.Retrieval.evalMetrics(
              res.select(col("qid"), col("nid").as("doc_id"),
                col("rank")),
              exact.select(col("qid"), col("nid").as("doc_id")), 10))
            .collect().head
          s"thrPpm=$thr routed=$routed/10 recall=${m.getLong(1)}ppm"
        }
      }
      if (only("sq8_sweep")) {
        ti("sq8_sweep_curve_1m") {
          val rows = sweep(Seq(4, 8, 32), pipeline.VectorLeg.Sq8(sq8Index,
            cents, _)).collect()
          rows.map(r => s"np${r.getLong(0)}=${r.getLong(2)}ppm")
            .mkString(" ")
        }
        ti("sq8_sweep_tailed_curve_1m") {
          val rows = sweep(Seq(4, 8, 32), pipeline.VectorLeg.Sq8(sq8Index,
            cents, _, tail)).collect()
          rows.map(r => s"np${r.getLong(0)}=${r.getLong(2)}ppm")
            .mkString(" ")
        }
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$dir.fullvec"))
    }

    // ---- mergeable HLL distinct census (HllCensus): the build pays one
    // partial-aggregated pass over raw events; the persisted per-day
    // sketch table then answers ANY window/grouping distinct question
    // from sketch rows alone. 2M distinct users is far past the
    // sparse-exact regime, so this measures the real approximation
    // (reported as err ppm vs an exact recompute) AND the serving
    // economics: probe inputRecords must be ~days×types sketch rows, not
    // the 10M raw events the exact recompute reads.
    // the build's shuffle is CORPUS-SIZE-INDEPENDENT: what crosses the
    // wire is one sketch partial per (segment × input partition), so 1M
    // and 10M rows move the same ~segments×partitions records — the 1m
    // twin stage pins that flatness.
    for ((nRows, tag) <- Seq((1000000L, "1m"), (10000000L, "10m"))
         if Seq(s"hll_census_build_$tag", s"hll_census_probe_$tag",
           s"hll_census_exact_$tag").exists(only)) {
      def sev = spark.range(nRows).select(
        (col("id") % 90).as("day"),
        concat(lit("t"), col("id") % 4).as("event_type"),
        pmod(xxhash64(col("id")), lit(2000000L)).as("user_id"))
      val dir = s"/tmp/graft_hll_census_$tag"
      tm(s"hll_census_build_$tag") {
        val sk = operators.HllCensus.build(sev,
          Seq(col("day"), col("event_type")), col("user_id"))
        sk.write.mode("overwrite").parquet(dir)
        s"segments=${spark.read.parquet(dir).count()}"
      }
      var exact = 0L
      ti(s"hll_census_exact_$tag") {
        exact = sev.where(col("day").between(30, 59))
          .agg(countDistinct(col("user_id"))).collect().head.getLong(0)
        s"exact=$exact"
      }
      ti(s"hll_census_probe_$tag") {
        val est = operators.HllCensus.estimateAll(
          spark.read.parquet(dir).where(col("day").between(30, 59)), "n")
          .collect().head.getLong(0)
        val errPpm = math.abs(est - exact) * 1000000L / math.max(exact, 1L)
        s"est=$est exact=$exact errPpm=$errPpm"
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }

    // ---- quantile census (QuantileCensus): same serving economics as
    // the HLL census but for percentiles — the per-day GK digest table
    // is built once; a 30-day-window p50/p99 probe reads digest rows
    // only. Reported next to an exact recompute (full sort-based
    // percentile over raw rows) for both cost and accuracy (ppm rank
    // error of the digest's answers, computed against the raw window).
    for ((nRows, tag) <- Seq((1000000L, "1m"), (10000000L, "10m"))
         if Seq(s"quantile_census_build_$tag", s"quantile_census_probe_$tag",
           s"quantile_census_exact_$tag").exists(only)) {
      def qev = spark.range(nRows).select(
        (col("id") % 90).as("day"),
        // heavy-tailed values so p99 actually stresses the digest
        (pow(pmod(xxhash64(col("id")), lit(1000000L))
          .cast("double") / 1000000.0, 4.0) * 1000000.0).as("v"))
      val dir = s"/tmp/graft_quantile_census_$tag"
      tm(s"quantile_census_build_$tag") {
        val dg = operators.QuantileCensus.build(qev,
          Seq(col("day")), col("v"), relativeError = 0.001)
        dg.write.mode("overwrite").parquet(dir)
        s"segments=${spark.read.parquet(dir).count()}"
      }
      var exact50 = 0.0; var exact99 = 0.0
      ti(s"quantile_census_exact_$tag") {
        val r = qev.where(col("day").between(30, 59))
          .agg(expr("percentile(v, 0.5)"), expr("percentile(v, 0.99)"))
          .collect().head
        exact50 = r.getDouble(0); exact99 = r.getDouble(1)
        f"exact50=$exact50%.1f exact99=$exact99%.1f"
      }
      var probed: (Long, Double, Double) = (0L, 0.0, 0.0)
      ti(s"quantile_census_probe_$tag") {
        val row = operators.QuantileCensus.quantiles(
          spark.read.parquet(dir).where(col("day").between(30, 59)),
          Nil, Seq(0.5, 0.99)).collect().head
        probed = (row.getLong(0), row.getDouble(1), row.getDouble(2))
        f"n=${probed._1} p50=${probed._2}%.1f p99=${probed._3}%.1f"
      }
      if (only(s"quantile_census_probe_$tag")) {
        // accuracy audit OUTSIDE the measured probe (it rescans raw
        // rows, which the probe never does): exact ranks of the
        // digest answers, in ppm (GK contract: within ~2*eps = 2000)
        val (n, p50, p99) = probed
        val errs = qev.where(col("day").between(30, 59)).agg(
          sum(when(col("v") <= p50, 1L).otherwise(0L)),
          sum(when(col("v") <= p99, 1L).otherwise(0L))).collect().head
        val e50 = math.abs(errs.getLong(0) * 1000000L / n - 500000L)
        val e99 = math.abs(errs.getLong(1) * 1000000L / n - 990000L)
        println(s"SCALEBENCH quantile_census_rank_audit " +
          s"rankErrPpm50=$e50 rankErrPpm99=$e99 (bound ~2000)")
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }

    // ---- runtime bloom-filter injection (plans.RuntimeFilters): a
    // selective dim predicate should prune the FACT side before its
    // shuffle. Spark's default 10 GB probe-side threshold means the rule
    // never fires at test scale, so production plans differ silently
    // from validated ones; the helper pins the regime and this stage
    // measures the consequence on parquet-backed tables in the
    // shuffle-bound (non-broadcastable-dim) regime: shuffle records must
    // collapse from fact-sized to match-sized when the filter fires, and
    // the answers must be identical.
    if (Seq("join_bloom_off_10m", "join_bloom_on_10m").exists(only)) {
      val factDir = "/tmp/graft_bloom_fact"
      val dimDir = "/tmp/graft_bloom_dim"
      spark.range(10000000L).select(
          pmod(xxhash64(col("id")), lit(2000000L)).as("fk"),
          (col("id") * 7).as("v"))
        .write.mode("overwrite").parquet(factDir)
      spark.range(2000000L).select(col("id").as("dk"),
          pmod(col("id"), lit(100L)).as("cat"))
        .write.mode("overwrite").parquet(dimDir)
      def run() = {
        val fact = spark.read.parquet(factDir)
        val dim = spark.read.parquet(dimDir).where(col("cat") === 7)
        val res = fact.join(dim, col("fk") === col("dk"))
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
        val row = res.collect().head
        val plan = res.queryExecution.executedPlan.toString
        (row.getLong(0), row.getLong(1), plan.contains("might_contain"))
      }
      val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      var off = (0L, 0L, false)
      tm("join_bloom_off_10m") {
        plans.RuntimeFilters.disable(spark)
        off = run()
        s"n=${off._1} bloomInPlan=${off._3}"
      }
      tm("join_bloom_on_10m") {
        plans.RuntimeFilters.enable(spark)
        val on = run()
        require(on._1 == off._1 && on._2 == off._2,
          s"bloom changed the answer: $on vs $off")
        require(on._3, "runtime bloom filter did not fire")
        s"n=${on._1} bloomInPlan=${on._3}"
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      plans.RuntimeFilters.disable(spark)
      Seq(factDir, dimDir).foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    }

    // --- fixture10x_<query>: the heavy store/lifecycle fixture queries
    // over a 10× copy of $SPARK_GRAFT_SF_DIR's documents and embeddings
    // (id-offset unions, deterministic), median of 3. The bench's heavy
    // fixture queries run at an 8c/32c ratio near 1 at sf0.1, so it
    // cannot tell a data-path win from a fixed-overhead win; this stage,
    // run once at 8 and once at 32 cores, shows how the same query code
    // scales once the data is big enough to matter. The copy is written
    // once per source dir and reused, so both runs time identical bytes.
    val fixtureQueries = Seq("ann_cutover_live", "retrieval_hybrid_pq_store",
      "retrieval_hybrid_store_batch", "retrieval_hybrid_pq_batch_filtered",
      "retrieval_bm25_tailer").map(q => s"fixture10x_$q" -> q)
    if (fixtureQueries.exists(q => only(q._1)))
      sys.env.get("SPARK_GRAFT_SF_DIR") match {
        case None =>
          println("SCALEBENCH fixture10x skipped (SPARK_GRAFT_SF_DIR unset)")
        case Some(src) =>
          val outDir = "/tmp/graft_fixture10x"
          val marker = java.nio.file.Paths.get(outDir, ".complete")
          if (!java.nio.file.Files.exists(marker) ||
              java.nio.file.Files.readString(marker) != src) {
            org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outDir))
            def scaled(name: String, idCol: String): Unit = {
              val base = spark.read.parquet(s"$src/$name.parquet")
              (0 until 10).map(c => base.withColumn(idCol,
                  col(idCol) + lit(c.toLong * 100000000L)))
                .reduce(_ unionByName _)
                .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
            }
            scaled("documents", "doc_id")
            scaled("embeddings", "vec_id")
            java.nio.file.Files.writeString(marker, src)
          }
          core.Tables.invalidateSchemaCache(Some(outDir))
          fixtureQueries.foreach { case (stage, q) =>
            t(stage) {
              val s = (1 to 3).map { _ =>
                val t0 = System.nanoTime()
                SparkEntry.queries(q)(spark, outDir).count()
                (System.nanoTime() - t0) / 1e9
              }.sorted
              f"${spark.sparkContext.master} median=${s(1)}%.2f " +
                f"min=${s.head}%.2f max=${s.last}%.2f"
            }
          }
      }

    // --- ingest_<door>_*: the three fsimage front doors at scale. The
    // ingest stage derives and persists the snapshot (pinned across the
    // door's query stages, dropped after them); every stage is linear in
    // the inode count. The dumps come from the generators in tools/:
    //   python3 tools/gen_oiv_fixture.py 1000000 /tmp/oiv_1m.tsv
    //   python3 tools/gen_fsimage_xml.py 1000000 /tmp/fsimage_big
    //   python3 tools/gen_fsimage_bin.py /tmp/fsimage_big_flat.csv
    // A stage whose dump is absent prints `skipped`.
    def dumpStage(door: String, dump: String, name: String)(
        f: String => Any): Unit = {
      val stage = s"ingest_${door}_$name"
      if (new java.io.File(dump).exists()) t(stage)(f(s"$door:$dump"))
      else if (only(stage)) println(s"SCALEBENCH $stage skipped (no $dump)")
    }
    def ingested(loc: String): Long = {
      val n = inodes.InodeView.snapshot(spark, loc).count(); pin(); n
    }
    def quotaWalk(loc: String): Long = engine.PathStructure.underQuota(
      inodes.InodeView.snapshot(spark, loc), "nsQuota")
      .where(col("isFile")).count()
    val oiv = "/tmp/oiv_1m.tsv"
    dumpStage("oiv", oiv, "ingest_persist_count")(ingested)
    dumpStage("oiv", oiv, "histogram_user") { loc =>
      engine.Histograms.histogram(
        inodes.InodeView.snapshot(spark, loc).where(col("isFile")),
        col("user"), count(lit(1))).count()
    }
    dumpStage("oiv", oiv, "under_ns_quota")(quotaWalk)
    dumpStage("oiv", oiv, "subtree_stats_all_dirs") { loc =>
      engine.PathStructure.subtreeStats(
        inodes.InodeView.snapshot(spark, loc)).count()
    }
    inodes.InodeView.invalidate(s"oiv:$oiv")
    // the XML door's extra cost is path reconstruction, the per-level
    // join loop over the parent/child id links the Delimited door never pays
    val xml = "/tmp/fsimage_big.xml"
    dumpStage("oivxml", xml, "resolve_paths_only") { _ =>
      val raw = ingest.FsImageXmlSource.readInodes(spark, xml)
      val links = ingest.FsImageXmlSource.readDirLinks(spark, xml)
      ingest.FsImageXmlSource.resolvePaths(spark, raw, links).count()
    }
    dumpStage("oivxml", xml, "ingest_persist_count")(ingested)
    dumpStage("oivxml", xml, "storage_histogram") { loc =>
      engine.Histograms.histogram(
        inodes.InodeView.snapshot(spark, loc).where(col("isFile")),
        engine.Fields.stringField("storageType"), count(lit(1))).count()
    }
    dumpStage("oivxml", xml, "under_ns_quota")(quotaWalk)
    inodes.InodeView.invalidate(s"oivxml:$xml")
    // the binary image of the same namespace: sequential container decode
    // plus the same derivation
    val bin = "/tmp/fsimage_big.bin"
    dumpStage("oivbin", bin, "decode_only") { _ =>
      ingest.FsImageBinary.readInodesFull(bin).length
    }
    dumpStage("oivbin", bin, "ingest_persist_count")(ingested)
    inodes.InodeView.invalidate(s"oivbin:$bin")
    spark.stop()
  }

  /** Previous row's text without a window-over-everything: doc i pairs
    * with doc i−1 via an equi-join on id (deterministic, shuffle-bounded). */
  private def lag_text = {
    // correlated lookup expressed as a join is overkill for a bench
    // generator — the duplicate pairs only need SOME shared source, so
    // reuse the deterministic text of doc_id - 1 by regenerating it
    expr(
      """array_join(transform(sequence(0, 39), j ->
           concat('w', pmod(xxhash64((doc_id - 1) * 40 + j) % (1 + pmod(xxhash64(doc_id - 1, j), 3000)), 3000))), ' ')""")
  }
}
