package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline._

class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 1
    (3L, "el rapido zorro marron salta sobre el perro"),
    (4L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (5L, "completely different content about spark engines")
  ).toDF("doc_id", "text")

  test("shingles: trigrams, distinct, short-text fallback") {
    val sh = docs.where($"doc_id" === 1)
      .select(Dedup.shingles($"text", 3)).head().getSeq[String](0)
    assert(sh.contains("the quick brown") && sh.contains("over the lazy"))
    assert(sh.length === 7) // 9 tokens → 7 trigrams, all distinct
    val short = Seq((9L, "just two")).toDF("doc_id", "text")
      .select(Dedup.shingles($"text", 3)).head().getSeq[String](0)
    assert(short === Seq("just two"))
  }

  test("shingleHashes ≡ portableHash over distinct shingles, incl. fallback") {
    val sets = core.Tables.documents(spark, "/root/testdata/sf0.001")
      .unionByName(Seq((9001L, "just two", "en", "t", 8L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .select(
        Dedup.shingleHashes($"text", 3).as("fast"),
        transform(Dedup.shingles($"text", 3),
          s => Dedup.portableHash(s)).as("slow"))
      .collect()
    assert(sets.nonEmpty)
    sets.foreach { r =>
      assert(r.getSeq[Long](0).toSet === r.getSeq[Long](1).toSet)
    }
  }

  test("null-text docs never enter the signature table") {
    // a bare otherwise() in shingleHashes would emit [null] for NULL text,
    // giving every null-text doc an all-null signature that collides in
    // every LSH band — they must be dropped at the explode instead
    val withNull = docs.unionByName(
      Seq((9100L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val sh = withNull.select($"doc_id", Dedup.shingleHashes($"text", 3).as("h"))
    assert(sh.where($"doc_id" === 9100L).head().isNullAt(1))
    val sigs = Dedup.minhashSignatures(withNull, "doc_id", $"text", 3, 16)
    assert(sigs.where($"did" === 9100L).count() === 0)
  }

  test("exact groups find the exact dup only") {
    val g = Dedup.exactGroups(docs, $"text", $"doc_id")
      .where($"n_copies" > 1).collect()
    assert(g.length === 1 && g(0).getLong(1) === 2 && g(0).getLong(2) === 1)
  }

  test("jaccard pairs find near-dups above threshold") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", $"text", 3, 500000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup → jaccard 1.0
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // near-dup
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("minhash LSH surfaces the exact dup with est jaccard 1.0") {
    val cand = Dedup.minhashCandidates(docs, "doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(cand((1L, 4L)) === 1000000L)
    assert(cand.contains((1L, 2L))) // near-dup shares most shingles
  }

  test("simhash: identical docs have distance 0; near-dups small distance") {
    val h = docs.select($"doc_id", Dedup.simhash64($"text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) === h(4L))
    assert(java.lang.Long.bitCount(h(1L) ^ h(2L)) <= 16)
    val pairs = Dedup.simhashPairs(docs, "doc_id", $"text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("langId picks the language with most marker hits") {
    val got = docs.select($"doc_id", TextAnalysis.langId($"text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "en" && got(3L) === "es")
  }

  test("cosine similarity: orthogonal 0, identical 1") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)), (3L, Array(2.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val sims = df.as("a").crossJoin(df.as("b"))
      .select(col("a.vec_id"), col("b.vec_id"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(math.abs(sims((1L, 2L))) < 1e-12)
    assert(math.abs(sims((1L, 3L)) - 1.0) < 1e-12)
  }

  test("brute-force top-k ranks by cosine") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(1.0f, 0.05f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(df.where($"vec_id" === 0), df, 2)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(top === Seq(3L, 1L))
  }

  test("LSH top-k finds exact duplicates (same bucket by construction)") {
    val df = Seq(
      (0L, Array(1.0f, 0.2f)), (1L, Array(1.0f, 0.2f)), (2L, Array(1.0f, 0.2f)),
      (3L, Array(1.0f, 0.2f)), (4L, Array(-1.0f, -0.2f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.lshTopK(df.where($"vec_id" === 0), df, 2, planes = 4)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    // identical vectors share every sign bucket; cosine 1.0, id tiebreak
    assert(got === Seq(1L, 2L))
  }

  test("corpus dedup keeps one representative per duplicate cluster") {
    val kept = Dedup.dedupCorpus(docs, "doc_id", $"text", thresholdPpm = 950000L)
      .select("doc_id").as[Long].collect().toSet
    // 1 and 4 are exact dups → keep 1, drop 4; everything else unpaired
    assert(kept === Set(1L, 2L, 3L, 5L))
  }

  test("reliable mode without a checkpoint dir fails fast") {
    // declared BEFORE the identical-output test: that one sets the
    // context's checkpoint dir, which can't be unset
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      spark.conf.set("spark.graft.reliableCheckpoint", "true")
      try {
        val e = intercept[IllegalArgumentException] {
          Dedup.checkpointCorpus(docs)
        }
        assert(e.getMessage.contains("setCheckpointDir"))
      } finally spark.conf.unset("spark.graft.reliableCheckpoint")
    }
  }

  test("reliable-checkpoint mode produces identical dedup output") {
    // default (localCheckpoint) vs spark.graft.reliableCheckpoint=true
    // (reliable checkpoint() through a checkpoint dir): same survivors
    val full = core.Tables.documents(spark, "/root/testdata/sf0.001")
    def run() = Dedup.dedupCorpus(full, "doc_id", $"text")
      .select("doc_id").as[Long].collect().toSet
    val viaLocal = run()
    val ckptDir = java.nio.file.Files
      .createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(ckptDir)
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    try {
      val viaReliable = run()
      assert(viaReliable === viaLocal)
      // the reliable mode actually wrote through the checkpoint dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckptDir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliable mode must write checkpoint files")
    } finally spark.conf.unset("spark.graft.reliableCheckpoint")
  }

  test("cluster labels propagate the minimum id through chains") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("ida", "idb")
    val labels = Dedup.clusterLabels(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(1L) === 1L && labels(2L) === 1L && labels(3L) === 1L)
    assert(labels(7L) === 7L && labels(9L) === 7L)
  }

  test("cluster labels reach fixpoint on chains longer than any fixed budget") {
    // a 7-link path (diameter 7): the old 5-sweep bound split this into
    // multiple clusters; both resolution paths must collapse it to one
    val chain = (1L to 7L).map(i => (i, i + 1)).toDF("ida", "idb")
    for (gate <- Seq(4000000L /* driver union-find */, 0L /* distributed */)) {
      val labels = Dedup.clusterLabels(chain, driverMaxEdges = gate)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labels.size === 8)
      assert(labels.values.toSet === Set(1L),
        s"gate=$gate expected one cluster, got $labels")
    }
  }

  test("quality filter drops short and low-diversity docs") {
    val df = Seq(
      (1L, "one two three four five six seven eight nine ten eleven"),
      (2L, "too short"),
      (3L, "rep rep rep rep rep rep rep rep rep rep rep rep")
    ).toDF("doc_id", "text")
    val kept = TextAnalysis.qualityFilter(df, $"text", minTokens = 5,
      maxTokens = 100, minDistinctPpm = 300000)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L))
  }

  test("IVF top-k: full probe (nprobe = nlist) equals brute force") {
    val emb = core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.where($"vec_id" < 3)
    val bf = Similarity.bruteForceTopK(q, emb, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    val ivf = Similarity.ivfTopK(q, emb, 3, nlist = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    assert(ivf === bf) // probing every cell ⇒ exhaustive ⇒ exact
    // partial probe returns ranked, non-empty results per query
    val part = Similarity.ivfTopK(q, emb, 3, nlist = 8, nprobe = 2)
      .collect()
    assert(part.nonEmpty && part.forall(_.getLong(2) <= 3))
  }

  test("IVF delete door: tombstoned search ≡ rebuild on the survivors " +
      "under the frozen quantizer; compaction drops the rows") {
    val emb = core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = emb.where($"vec_id" % 5 =!= 4)
    val cents = Similarity.centroids(base, 16)
    val grown = Similarity.ivfAddToIndex(
      Similarity.ivfAssign(base, cents), emb.where($"vec_id" % 5 === 4),
      cents)
    val tombs = emb.where($"vec_id" % 7 === 0).select($"vec_id".as("nid"))
    val q = emb.where($"vec_id" < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = Similarity
      .ivfTopKIndexed(q, df, cents, 5, nprobe = 4)
      .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    val live = Similarity.ivfApplyTombstones(grown, tombs)
    val rebuilt = Similarity.ivfAssign(emb.where($"vec_id" % 7 =!= 0), cents)
    val got = rows(live)
    assert(got.nonEmpty && got === rows(rebuilt))
    assert(got.forall(r => r(1).asInstanceOf[Long] % 7 != 0),
      "a deleted vector surfaced")
    // physical compaction: persist the filtered index partitioned by
    // cell, reload — tombstoned rows gone, identical answer
    val dir = java.nio.file.Files.createTempDirectory("ivfdel").toString + "/idx"
    live.write.partitionBy("cell").parquet(dir)
    val reloaded = spark.read.parquet(dir)
      .select($"cell", $"nid", $"ne") // partition col read-back order
    assert(reloaded.where($"nid" % 7 === 0).count() === 0L)
    assert(rows(reloaded) === got)
    // the trigger that schedules this compaction: quiet while the
    // tombstone set is broadcast-comfortable, fires once it outgrows
    // the threshold; the compacted probe pays no anti-join at all
    assert(!Dedup.compactNeeded(tombs, thresholdBytes = 1L << 20))
    assert(Dedup.compactNeeded(tombs, thresholdBytes = 64L * 10))
    val compactedProbe = Similarity.ivfTopKIndexed(q, reloaded, cents,
      5, nprobe = 4)
    assert(!compactedProbe.queryExecution.optimizedPlan.toString
      .contains("LeftAnti"), "compacted IVF probe still anti-joins")
    // UPDATE = delete + re-add under the frozen quantizer: replace every
    // 11th vector's embedding with its reverse, equal a rebuild on the
    // updated corpus
    val upd = emb.where($"vec_id" % 11 === 0)
      .select($"vec_id", reverse($"embedding").as("embedding"))
    val updated = Similarity.ivfAddToIndex(
      Similarity.ivfApplyTombstones(grown,
        upd.select($"vec_id".as("nid"))), upd, cents)
    val updatedCorpus = emb.where($"vec_id" % 11 =!= 0)
      .select($"vec_id", $"embedding").unionByName(upd)
    assert(rows(updated) === rows(Similarity.ivfAssign(updatedCorpus, cents)))
    // the GENERATION door on a persisted store: an update appends the
    // re-assigned vectors under gen 1 and retires gen 0 — the fresh
    // rows survive their own id's tombstone (a plain nid tombstone
    // swallows them, the exact failure this door exists to avoid)
    val upd2 = emb.where($"vec_id" % 6 === 3)
      .select($"vec_id", reverse($"embedding").as("embedding"))
    val gdir = java.nio.file.Files.createTempDirectory("ivfgen")
      .toString + "/idx"
    Similarity.ivfStampGen(Similarity.ivfAssign(emb, cents), 0L)
      .write.partitionBy("cell").parquet(gdir)
    Similarity.ivfStampGen(Similarity.ivfAssign(upd2, cents), 1L)
      .write.mode("append").partitionBy("cell").parquet(gdir)
    val gstore = spark.read.parquet(gdir)
      .select($"cell", $"nid", $"ne", $"gen")
    val gtombs = Similarity.ivfGenTombstones(upd2, $"vec_id", 0L)
    val gLive = Similarity.ivfApplyGenTombstones(gstore, gtombs)
    val gCorpus = emb.where($"vec_id" % 6 =!= 3)
      .select($"vec_id", $"embedding").unionByName(upd2)
    assert(rows(gLive) === rows(Similarity.ivfAssign(gCorpus, cents)),
      "gen-versioned update != rebuild on the updated corpus")
    assert(gLive.where($"nid" % 6 === 3).count() > 0,
      "gen tombstone swallowed the update's fresh rows")
    assert(Similarity.ivfApplyTombstones(gstore,
      gtombs.select($"nid")).where($"nid" % 6 === 3).count() === 0L,
      "counter-example broke: the plain door should swallow the update")
    // SERVING probe over the persisted store: the literal-cell variant
    // must equal the join-probe answer AND reach the file index as a
    // partition filter (the join alone prunes nothing — a parquet
    // store would be read whole on every query)
    val pruned = VectorLeg.Ivf(gLive, cents, nprobe = 4).batch(q, 5)
    assert(pruned.orderBy("qid", "rank").collect().map(_.toSeq).toSeq
      === Similarity.ivfTopKIndexed(q, gLive, cents, 5, nprobe = 4)
        .orderBy("qid", "rank").collect().map(_.toSeq).toSeq,
      "pruned probe drifted from the join probe")
    val prunedPlan = pruned.queryExecution.executedPlan.toString
    assert(prunedPlan.contains("PartitionFilters: [cell#") ||
      prunedPlan.contains("PartitionFilters: [isnotnull(cell#") ||
      """PartitionFilters: \[[^\]]*cell""".r
        .findFirstIn(prunedPlan).isDefined,
      s"probe cells never reached the partition filter:\n$prunedPlan")
    // seeded fuzz: random delete moduli and probe widths all hold
    // tombstoned ≡ rebuild-on-survivors under the frozen quantizer
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val m = 3 + rnd.nextInt(6)
      val np = 1 + rnd.nextInt(6)
      def r2(df: org.apache.spark.sql.DataFrame) = Similarity
        .ivfTopKIndexed(q, df, cents, 5, nprobe = np)
        .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
      val t = emb.where($"vec_id" % m === 0).select($"vec_id".as("nid"))
      val gotF = r2(Similarity.ivfApplyTombstones(grown, t))
      assert(gotF === r2(Similarity.ivfAssign(
        emb.where($"vec_id" % m =!= 0), cents)), s"seed=$seed m=$m np=$np")
      assert(gotF.forall(r => r(1).asInstanceOf[Long] % m != 0),
        s"seed=$seed: deleted vector surfaced")
    }
  }

  test("shard export: one dir per shard, deterministic order, lossless reload") {
    import spark.implicits._
    val docs = core.Tables.documents(spark, "/root/testdata/sf0.001")
    val tmp = java.nio.file.Files.createTempDirectory("shards").toString
    val manifest = Curation.writeShards(docs, $"doc_id", $"text", 4, tmp)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(4))).toMap
    // every shard directory exists and the manifest covers all docs
    val dirs = new java.io.File(tmp).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("shard=")).toSet
    assert(dirs === manifest.keySet.map(s => s"shard=$s"))
    assert(manifest.values.map(_._1).sum === docs.count())
    // reload: same doc set per shard as the manifest's xor pin
    val back = spark.read.parquet(tmp)
      // partition-dir values reload as int — normalize to the manifest type
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(doc_id)").as("x"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(back === manifest)
    // byte-reproducible: a second export writes the identical row order
    val tmp2 = java.nio.file.Files.createTempDirectory("shards2").toString
    Curation.writeShards(docs, $"doc_id", $"text", 4, tmp2).collect()
    val order1 = spark.read.parquet(tmp).where($"shard" === 1)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val order2 = spark.read.parquet(tmp2).where($"shard" === 1)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(order1 === order2 && order1.nonEmpty)
  }

  test("hot-bucket cap bounds clone-cluster pairs, leaves others intact") {
    import spark.implicits._
    val hot = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = ((0L until 6L).map(i => (i, hot)) ++ Seq(
      (10L, "one two three four five six seven"),
      (11L, "one two three four five six seven")  // dup pair in own bucket
    )).toDF("doc_id", "text")
    val capped = Dedup.minhashCandidates(docs, "doc_id", $"text",
        maxBucket = 2)
      .where($"est_jaccard_ppm" >= 500000)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    // 6 identical docs would emit C(6,2)=15 pairs; cap=2 keeps only the
    // two lowest ids per bucket -> exactly (0,1); the unrelated near-dup
    // pair (10,11) lives in its own buckets and survives untouched
    assert(capped === Set((0L, 1L), (10L, 11L)))
    val uncapped = Dedup.minhashCandidates(docs, "doc_id", $"text")
      .where($"est_jaccard_ppm" >= 500000).count()
    assert(uncapped === 16L) // 15 clone pairs + (10,11)
  }

  test("BPE pre-tokenizer: contractions split, punctuation runs counted") {
    import spark.implicits._
    val df = Seq(
      (1L, "it's a test"),          // it + 's + a + test = 4
      (2L, "x1y, z...(ok) 42"),     // x 1 y , ␣z ...( ok ) ␣42 = 9
      (3L, "   spaced   out  ")     // spaced + out = 2 (whitespace uncounted)
    ).toDF("doc_id", "text")
    val got = df.select($"doc_id", TextAnalysis.bpeTokenCount($"text").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 4L, 2L -> 9L, 3L -> 2L))
  }

  test("PQ encode: codes index the nearest codebook entry; seeds self-encode") {
    val emb = core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val m = 8
    val cbs = Similarity.pqCodebooks(emb, m, ksub = 16)
    assert(cbs.length === m && cbs.forall(_.length === 16))
    val codes = Similarity.pqEncode(emb, cbs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(codes.values.forall(_.length === m))
    // a seed vector's distance to its own entry is 0 in every subspace, so
    // each of the first 16 vectors (sorted by id) encodes to its own rank —
    // unless an earlier seed ties exactly (impossible on random floats)
    val seedIds = emb.orderBy($"vec_id").limit(16)
      .select("vec_id").as[Long].collect()
    seedIds.zipWithIndex.foreach { case (vid, rank) =>
      assert(codes(vid).forall(_ === rank.toLong),
        s"seed $vid should self-encode to code $rank, got ${codes(vid)}")
    }
  }

  test("PQ training: refined entry is the quantized mean of its members") {
    import spark.implicits._
    // 8-dim vectors, m=2 subspaces of 4 dims; seeds = first 2 vectors.
    // Vectors 0,2 share subvector values in subspace 0; 1,3 share others —
    // after one iteration each entry must equal the quantized mean of the
    // subvectors that encoded to it.
    val v = (d: Double) => Array.fill(4)(d.toFloat)
    val df = Seq(
      (0L, v(1.0) ++ v(10.0)), (1L, v(5.0) ++ v(20.0)),
      (2L, v(1.2) ++ v(10.4)), (3L, v(5.4) ++ v(19.8))
    ).map { case (i, a) => (i, a.toSeq) }.toDF("vec_id", "embedding")
    val init = Similarity.pqCodebooks(df, 2, 2)
    val refined = Similarity.pqRefineCodebooks(df, init, 1)
    def qmean(xs: Seq[Double]) = {
      val s = xs.map(x => math.floor(x * 1048576.0).toLong).sum
      Math.floorDiv(s, xs.length.toLong).toDouble / 1048576.0
    }
    // subspace 0, code 0 <- subvectors of vecs 0 and 2 (1.0, 1.2)
    assert(refined(0)(0).toSeq === Seq.fill(4)(qmean(Seq(1.0f.toDouble, 1.2f.toDouble))))
    // subspace 1, code 1 <- subvectors of vecs 1 and 3 (20.0, 19.8)
    assert(refined(1)(1).toSeq === Seq.fill(4)(qmean(Seq(20.0f.toDouble, 19.8f.toDouble))))
  }

  test("IVFPQ: full probe equals flat PQ; both rank by the ADC approximation") {
    val emb = core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.where($"vec_id" < 3)
    val flat = Similarity.pqTopK(q, emb, 3, m = 8, ksub = 16)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    // probing every cell scores every (query, vector) pair ⇒ same ranking
    val full = Similarity.ivfPqTopK(q, emb, 3, nlist = 8, nprobe = 8,
      m = 8, ksub = 16)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    assert(full === flat)
    // partial probe returns ranked, bounded results per query
    val part = Similarity.ivfPqTopK(q, emb, 3, nlist = 8, nprobe = 2,
      m = 8, ksub = 16).collect()
    assert(part.nonEmpty && part.forall(_.getLong(2) <= 3))
  }

  test("curation: splits are deterministic, exhaustive, roughly sized") {
    val docs5 = core.Tables.documents(spark, "/root/testdata/sf0.001")
    val s1 = Curation.withSplit(docs5, $"doc_id")
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val s2 = Curation.withSplit(docs5, $"doc_id")
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s1 === s2) // same assignment every run
    val bywSplit = s1.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(bywSplit.keySet === Set("train", "val", "test"))
    assert(bywSplit("train") > bywSplit("val") && bywSplit("train") > bywSplit("test"))
    // sample is a subset consistent with the bucket rule
    val sample = Curation.deterministicSample(docs5, $"doc_id", 10).count()
    assert(sample > 0 && sample < docs5.count() / 5)
  }

  test("decontamination removes exactly the flagged docs") {
    val docsAll = core.Tables.documents(spark, "/root/testdata/sf0.001")
    val bench = docsAll.where($"doc_id" < 50)
    val train = docsAll.where($"doc_id" >= 50)
    val cont = Curation.contaminatedIds(train, bench, "doc_id", $"text", 5)
      .collect().map(_.getLong(0)).toSet
    assert(cont.nonEmpty)
    val clean = Curation.decontaminate(train, bench, "doc_id", $"text", 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean.intersect(cont).isEmpty)
    assert(clean.size + cont.size === train.count())
    // an exact duplicate of a benchmark doc must always be flagged
    val dupOfBench = bench.limit(1).withColumn("doc_id", lit(99999L))
    val cont2 = Curation.contaminatedIds(
      train.unionByName(dupOfBench), bench, "doc_id", $"text", 5)
      .collect().map(_.getLong(0)).toSet
    assert(cont2.contains(99999L))
  }

  test("int8 quantization: absmax maps to ±127, full length, exact scale") {
    val emb = core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val qv = Similarity.quantizeInt8(emb).collect()
    assert(qv.length === emb.count())
    qv.foreach { r =>
      val q = r.getSeq[Int](1)
      assert(q.length === 64)
      assert(q.map(math.abs).max === 127) // the absmax element saturates
      assert(q.forall(v => v >= -127 && v <= 127))
    }
  }

  test("kmeans refinement: quantized cell means, empty cells keep centroid") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)), (3L, Array(0.1f, 0.9f))
    ).toDF("vec_id", "embedding")
    val init = Seq(0L -> Array(1.0, 0.0), 2L -> Array(0.0, 1.0),
      9L -> Array(-1.0, -1.0)) // cell 9 attracts nothing
    val refined = Similarity.kmeansRefine(df, init, iters = 1).toMap
    def qmean(vs: Seq[Double]) = // quantized-mean arithmetic of the engine
      Math.floorDiv(vs.map(v => math.floor(v * 1048576.0).toLong).sum,
        vs.length.toLong).toDouble / 1048576.0
    // vectors 0,1 -> cell 0; vectors 2,3 -> cell 2 (cosine argmax)
    assert(refined(0L)(0) === qmean(Seq(1.0f, 0.9f).map(_.toDouble)))
    assert(refined(2L)(1) === qmean(Seq(1.0f, 0.9f).map(_.toDouble)))
    assert(refined(9L).toSeq === Seq(-1.0, -1.0)) // untouched
  }

  test("conf-gated salted histogram: same results, two-phase plan") {
    val files = graft.inodes.InodeView
      .snapshot(spark, "/root/testdata/sf0.001").where($"isFile")
    val plain = graft.engine.Histograms
      .histogram(files, $"user", count(lit(1)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    spark.conf.set("graft.skew.salts", "8")
    try {
      val salted = graft.engine.Histograms.histogram(files, $"user", count(lit(1)))
      val got = salted.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === plain)
      // two aggregation phases: (key, salt) partial then key final
      val plan = salted.queryExecution.executedPlan.toString
      assert(plan.contains("__salt"))
      // non-algebraic aggregates must NOT be salted (partials don't combine)
      val avgPlan = graft.engine.Histograms
        .histogram(files, $"user", floor(avg($"fileSize")).cast("long"))
        .queryExecution.executedPlan.toString
      assert(!avgPlan.contains("__salt"))
    } finally spark.conf.set("graft.skew.salts", "0")
  }

  test("salted aggregation matches plain groupBy") {
    val docs5 = docs
    val plain = docs5.groupBy($"doc_id" % 2).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = graft.engine.Skew.saltedCount(docs5, $"doc_id" % 2, salts = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted === plain)
    val plainSum = docs5.agg(sum(length($"text"))).head().getLong(0)
    val saltedSum = graft.engine.Skew.saltedSum(docs5, lit(1), length($"text"), 4)
      .head().getLong(1)
    assert(saltedSum === plainSum)
  }

  test("salted join matches plain join, row for row") {
    val left = (1 to 40).map(i => (i.toLong, if (i <= 30) "hot" else s"k$i"))
      .toDF("lid", "k")
    val right = Seq(("hot", 100L), ("k31", 310L), ("k40", 400L), ("cold", 0L))
      .toDF("k", "payload")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("lid", "k", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(rows(graft.engine.Skew.saltedJoin(left, right, "k", salts = 4))
      === rows(left.join(right, Seq("k"))))
  }

  test("multimodal: resize stub stamps target dims + content fingerprint") {
    val assets = Multimodal.syntheticAssets(
      core.Tables.documents(spark, "/root/testdata/sf0.001"))
      .where($"modality" === "image").limit(5)
    val resized = Multimodal.stubResize(assets, 224, 224)
    val rows = resized.select("resized_meta.width", "resized_meta.height",
      "resized_fingerprint").collect()
    assert(rows.length === 5)
    assert(rows.forall(r => r.getInt(0) === 224 && r.getInt(1) === 224))
    // fingerprint is a deterministic function of (content, dims)
    val again = Multimodal.stubResize(assets, 224, 224)
      .select("resized_fingerprint").collect().map(_.getLong(0)).toSet
    assert(again === rows.map(_.getLong(2)).toSet)
    val other = Multimodal.stubResize(assets, 64, 64)
      .select("resized_fingerprint").collect().map(_.getLong(0)).toSet
    assert(other.intersect(again).isEmpty)
  }

  test("multimodal: frame sampling slices payload bytes") {
    val assets = Multimodal.syntheticAssets(
      core.Tables.documents(spark, "/root/testdata/sf0.001"))
    val frames = Multimodal.sampleFrames(assets.limit(3), 4, 16)
    val rows = frames.select("asset_id", "frame_idx", "frame").collect()
    assert(rows.length > 0)
    assert(rows.forall(_.getAs[Array[Byte]]("frame").length <= 16))
  }

  test("as-of join attaches the latest right row at or before left ts") {
    val left = Seq((1L, 100L, 10L), (1L, 200L, 20L), (2L, 150L, 30L))
      .toDF("k", "t", "lid").withColumnRenamed("t", "ts").withColumnRenamed("k", "key")
    val right = Seq((1L, 90L, 991L), (1L, 150L, 992L), (1L, 201L, 993L))
      .toDF("key", "ts", "rid")
    val got = graft.operators.AsOfJoin.asofJoin(left, right, "key", "ts", Seq("rid"))
      .orderBy("lid").collect()
      .map(r => r.getAs[Long]("lid") -> Option(r.getAs[Any]("asof_rid"))).toMap
    assert(got(10L) === Some(991L))  // 90 <= 100 < 150
    assert(got(20L) === Some(992L))  // 150 <= 200 < 201
    assert(got(30L) === None)        // key 2 has no right rows
    // inclusive at equal ts
    val eq = graft.operators.AsOfJoin.asofJoin(
      Seq((1L, 150L, 99L)).toDF("key", "ts", "lid"), right, "key", "ts", Seq("rid"))
      .head().getAs[Long]("asof_rid")
    assert(eq === 992L)
  }

  test("forward as-of join: earliest right at-or-after; tolerance nulls far matches") {
    val left = Seq((1L, 100L, 10L), (1L, 200L, 20L), (1L, 500L, 40L), (2L, 150L, 30L))
      .toDF("key", "ts", "lid")
    val right = Seq((1L, 90L, 991L), (1L, 150L, 992L), (1L, 200L, 993L))
      .toDF("key", "ts", "rid")
    val got = graft.operators.AsOfJoin.asofJoinForward(
        left, right, "key", "ts", Seq("rid"))
      .collect()
      .map(r => r.getAs[Long]("lid") -> Option(r.getAs[Any]("asof_rid"))).toMap
    assert(got(10L) === Some(992L))  // earliest right >= 100 is 150
    assert(got(20L) === Some(993L))  // inclusive at equal ts
    assert(got(40L) === None)        // nothing at/after 500
    assert(got(30L) === None)        // key 2 has no right rows
    // tolerance: match at +50 survives tol=50, dies at tol=49
    def ttl(tol: Long) = graft.operators.AsOfJoin.asofJoinForward(
        Seq((1L, 100L, 10L)).toDF("key", "ts", "lid"),
        right, "key", "ts", Seq("rid"), toleranceNs = Some(tol))
      .head()
    assert(ttl(50L).getAs[Long]("asof_rid") === 992L)
    assert(Option(ttl(49L).getAs[Any]("asof_rid")) === None)
  }

  test("nearest as-of join: min |gap| within tolerance, ties backward") {
    val left = Seq((1L, 100L, 10L),  // back 90 (d10) vs fwd 150 (d50) -> b
                   (1L, 120L, 20L),  // back 90 (d30) vs fwd 150 (d30) -> tie -> b
                   (1L, 300L, 30L),  // only back 150 (d150) within tol 200 -> b
                   (1L, 600L, 40L),  // nothing within tol -> n
                   (2L, 100L, 50L))  // key 2: no right rows -> n
      .toDF("key", "ts", "lid")
    val right = Seq((1L, 90L, 991L), (1L, 150L, 992L)).toDF("key", "ts", "rid")
    val got = graft.operators.AsOfJoin.asofJoinNearest(
        left, right, "key", "ts", Seq("rid"), toleranceNs = 200L)
      .collect()
      .map(r => r.getAs[Long]("lid") ->
        ((Option(r.getAs[Any]("asof_rid")), r.getAs[String]("asof_dir")))).toMap
    assert(got(10L) === ((Some(991L), "b")))
    assert(got(20L) === ((Some(991L), "b"))) // equidistant -> backward
    assert(got(30L) === ((Some(992L), "b")))
    assert(got(40L) === ((None, "n")))
    assert(got(50L) === ((None, "n")))
  }

  test("nearest as-of join: randomized equivalence with a brute-force reference") {
    val rnd = new scala.util.Random(11)
    val tol = 5000L
    val leftRows = (0 until 800).map(i =>
      (rnd.nextInt(40).toLong, rnd.between(0L, 100000L), i.toLong))
    val rightRows = (0 until 600).map(i =>
      (rnd.nextInt(40).toLong, rnd.between(0L, 100000L), 1000L + i))
    val left = leftRows.toDF("key", "ts", "lid")
    val right = rightRows.toDF("key", "ts", "rid")
    val got = graft.operators.AsOfJoin.asofJoinNearest(
        left, right, "key", "ts", Seq("ts"), toleranceNs = tol)
      .collect()
      .map(r => r.getAs[Long]("lid") ->
        ((Option(r.getAs[Any]("asof_ts")), r.getAs[String]("asof_dir")))).toMap
    val byKey = rightRows.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    leftRows.foreach { case (k, t, lid) =>
      val cands = byKey.getOrElse(k, Seq.empty).filter(rt => math.abs(rt - t) <= tol)
      val want =
        if (cands.isEmpty) (None, "n")
        else {
          val back = cands.filter(_ <= t).sorted.lastOption
          val fwd = cands.filter(_ >= t).sorted.headOption
          (back, fwd) match {
            case (Some(b), Some(f)) =>
              if (t - b <= f - t) (Some(b), "b") else (Some(f), "f")
            case (Some(b), None) => (Some(b), "b")
            case (None, Some(f)) => (Some(f), "f")
            case _ => (None, "n")
          }
        }
      assert(got(lid) === want, s"lid=$lid key=$k t=$t cands=$cands")
    }
  }

  test("bucketed as-of equals the plain as-of at every bucket width") {
    // randomized sweep with the hostile shapes: negative ts, keys whose
    // rights sit MANY empty buckets before their lefts (carry must hop
    // buckets), a whale key carrying most rows, and a key with no rights
    val rnd = new scala.util.Random(21)
    val left = (0 until 3000).map { i =>
      val k = if (i % 3 == 0) 7L else rnd.between(0L, 40L)
      (k, rnd.between(-500000L, 500000L), i.toLong)
    }.toDF("key", "ts", "lid")
    val right = (0 until 800).map { i =>
      val k = if (i % 3 == 0) 7L else rnd.between(1L, 40L) // key 0: no rights
      // rights clustered early → later lefts reach them only via carry
      (k, rnd.between(-500000L, -100000L + (i % 5) * 100000L), 9000L + i)
    }.toDF("key", "ts", "rid")
    val want = graft.operators.AsOfJoin
      .asofJoin(left, right, "key", "ts", Seq("rid"))
      .collect().map(r => r.getAs[Long]("lid") ->
        Option(r.getAs[Any]("asof_rid"))).toMap
    for (b <- Seq(1L, 97L, 10000L, 1000000L, 100000000L)) {
      val got = graft.operators.AsOfJoin
        .asofJoinBucketed(left, right, "key", "ts", Seq("rid"), b)
        .collect().map(r => r.getAs[Long]("lid") ->
          Option(r.getAs[Any]("asof_rid"))).toMap
      assert(got === want, s"bucketNs=$b diverged from the plain as-of")
    }
  }

  test("morton code: interleave known values, masking, null propagation") {
    // 0b101 ⨯ 0b011 → even bits 1,0,1 / odd bits 1,1,0 = 0b011011? spell
    // it: a=5 (101), b=3 (011): result bits (b1 a1)(b1 a0)(b0 a1) —
    // compute via the interpreter twin and pin a couple by hand
    assert(graft.functions.MortonCode.interleave(0L, 0L) === 0L)
    assert(graft.functions.MortonCode.interleave(1L, 0L) === 1L)
    assert(graft.functions.MortonCode.interleave(0L, 1L) === 2L)
    assert(graft.functions.MortonCode.interleave(3L, 3L) === 15L)
    assert(graft.functions.MortonCode.interleave(0xFFFFL, 0xFFFFL) ===
      0xFFFFFFFFL)
    // masking: only the low 16 bits of each dimension participate
    assert(graft.functions.MortonCode.interleave(0x1FFFFL, 0L) ===
      graft.functions.MortonCode.interleave(0xFFFFL, 0L))
    // codegen path ≡ interpreter twin on a value sweep, null in → null out
    val df = Seq((5L, 3L), (65535L, 1L), (123456L, 654321L))
      .toDF("a", "b")
      .select(graft.operators.ZOrder.code(col("a"), col("b")).as("z"),
        col("a"), col("b"))
    df.collect().foreach { r =>
      assert(r.getLong(0) ===
        graft.functions.MortonCode.interleave(r.getLong(1), r.getLong(2)))
    }
    val withNull = Seq((Some(1L), Option.empty[Long]))
      .toDF("a", "b")
      .select(graft.operators.ZOrder.code(col("a"), col("b")).as("z"))
      .head()
    assert(withNull.isNullAt(0))
  }

  test("morton 3-D/4-D: bit positions, full-mask constants, codegen ≡ twin") {
    import graft.functions.MortonCode._
    // dimension i lands on bit positions ≡ i (mod N)
    assert(interleave3(1L, 0L, 0L) === 1L)
    assert(interleave3(0L, 1L, 0L) === 2L)
    assert(interleave3(0L, 0L, 1L) === 4L)
    assert(interleave4(1L, 0L, 0L, 0L) === 1L)
    assert(interleave4(0L, 0L, 0L, 1L) === 8L)
    // full-mask inputs spread to the exact stride constants
    assert(interleave3(0x1FFFFFL, 0L, 0L) === 0x1249249249249249L)
    assert(interleave3(0x1FFFFFL, 0x1FFFFFL, 0x1FFFFFL) ===
      0x7FFFFFFFFFFFFFFFL)
    assert(interleave4(0xFFFFL, 0L, 0L, 0L) === 0x1111111111111111L)
    assert(interleave4(0xFFFFL, 0xFFFFL, 0xFFFFL, 0xFFFFL) === -1L)
    // masking beyond the per-dimension width
    assert(interleave3(0x200000L | 5L, 2L, 3L) === interleave3(5L, 2L, 3L))
    // bit-by-bit reference on a value sweep
    def slow(vs: Seq[Long], bits: Int): Long = {
      var out = 0L
      for (bit <- 0 until bits; d <- vs.indices)
        if (((vs(d) >> bit) & 1L) == 1L) out |= 1L << (bit * vs.size + d)
      out
    }
    for (seed <- 1 to 50) {
      val a = seed * 2654435761L & 0x1FFFFFL
      val b = seed * 40503L & 0x1FFFFFL
      val c = seed * 2246822519L & 0x1FFFFFL
      assert(interleave3(a, b, c) === slow(Seq(a, b, c), 21), s"3d seed=$seed")
      assert(interleave4(a & 0xFFFF, b & 0xFFFF, c & 0xFFFF, seed.toLong) ===
        slow(Seq(a & 0xFFFF, b & 0xFFFF, c & 0xFFFF, seed.toLong), 16),
        s"4d seed=$seed")
    }
    // codegen path (SQL door, 3 and 4 args) ≡ the interpreter twin
    graft.functions.GraftFunctions.registerAll(spark)
    val r = spark.sql(
      "SELECT morton_code(5L, 3L), morton_code(5L, 3L, 9L), " +
        "morton_code(5L, 3L, 9L, 2L)").head()
    assert(r.getLong(0) === interleave(5L, 3L))
    assert(r.getLong(1) === interleave3(5L, 3L, 9L))
    assert(r.getLong(2) === interleave4(5L, 3L, 9L, 2L))
  }

  test("zorder layout written to parquet: the scan actually skips " +
      "row groups on the off dimension (real min/max pruning)") {
    // the end-to-end claim: after writing the clustered layout, a
    // selective filter on y reads far fewer ROWS OFF DISK than the same
    // filter over an x-sorted layout — parquet footer min/max skipping,
    // not just in-memory partition ranges
    val n = 40000
    val rows = (0 until n).map { i =>
      ((i * 2654435761L) % 100000, (i * 40503L) % 100000)
    }
    val df = rows.toDF("x", "y")
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    // pin the physical layout: with the default 128 MB block size the
    // writer's flush points depend on the parquet MemoryManager's
    // scaled allocation — under full-suite pressure row groups cut at
    // different rows and the skip margins wobble (three rounds of
    // flakes). A small explicit block size + a fixed size-check
    // cadence make the flush points a pure function of the data.
    def pinnedWrite(d: org.apache.spark.sql.DataFrame) =
      d.write.option("parquet.block.size", 32 * 1024)
        .option("parquet.page.size.row.check.min", "64")
        .option("parquet.page.size.row.check.max", "64")
    pinnedWrite(graft.operators.ZOrder.cluster(df, "x", "y",
      partitions = 16)).mode("overwrite").parquet(s"$dir/z")
    pinnedWrite(df.repartitionByRange(16, col("x"))
      .sortWithinPartitions("x")).mode("overwrite").parquet(s"$dir/xsort")
    def scanRows(path: String): Long = {
      val q = spark.read.parquet(path).where(col("y") < 12500L)
      q.collect()
      val scan = q.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
      scan.metrics("numOutputRows").value
    }
    val zRead = scanRows(s"$dir/z")
    val xRead = scanRows(s"$dir/xsort")
    // x-sorted files all span the full y range — nothing skips; the
    // z-layout reads only the files whose y-interval intersects the
    // slice (≤ half at 1/8 selectivity)
    assert(xRead > (n * 9L) / 10, s"x-sort baseline read only $xRead")
    assert(zRead < xRead / 2, s"z-layout read $zRead vs x-sort $xRead")
  }

  test("incremental zorder maintenance: deltas keyed against FROZEN " +
      "bounds keep the combined table skippable; unsorted appends don't") {
    val rows = (0 until 40000).map { i =>
      ((i * 2654435761L) % 100000, (i * 40503L) % 100000)
    }
    val base = rows.take(32000).toDF("x", "y")
    val delta = rows.drop(32000).toDF("x", "y")
    val dir = java.nio.file.Files.createTempDirectory("zinc").toString
    val cols = Seq("x", "y")
    // pinned physical layout — see the end-to-end zorder test: flush
    // points must be a function of the data, not of the parquet
    // MemoryManager's pressure-scaled allocation, or the skip margins
    // below wobble under a loaded full-suite run
    def pinnedWrite(d: org.apache.spark.sql.DataFrame) =
      d.write.option("parquet.block.size", 32 * 1024)
        .option("parquet.page.size.row.check.min", "64")
        .option("parquet.page.size.row.check.max", "64")
    // base layout + its frozen contract
    val bounds = graft.operators.ZOrder.layoutBounds(base, cols)
    pinnedWrite(graft.operators.ZOrder.cluster(base, "x", "y",
      partitions = 12)).mode("overwrite").parquet(s"$dir/z")
    spark.read.parquet(s"$dir/z").count() // materialize before appends
    // maintained append vs naive append of the SAME delta
    pinnedWrite(graft.operators.ZOrder.clusterDelta(delta, cols,
      partitions = 8, bounds)).mode("append").parquet(s"$dir/z")
    pinnedWrite(graft.operators.ZOrder.cluster(base, "x", "y",
      partitions = 12)).mode("overwrite").parquet(s"$dir/naive")
    pinnedWrite(delta.coalesce(4)).mode("append").parquet(s"$dir/naive")
    def scanRows(path: String): (Long, Long) = {
      val all = spark.read.parquet(path)
      val q = all.where(col("y") < 12500L)
      q.collect()
      val scan = q.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head
      (scan.metrics("numOutputRows").value, all.count())
    }
    val (zRead, zTotal) = scanRows(s"$dir/z")
    val (nRead, nTotal) = scanRows(s"$dir/naive")
    assert(zTotal === 40000L && nTotal === 40000L, "appends must not lose rows")
    // the maintained table's delta files carry tight y ranges like the
    // base; the naive append's delta files span the full y range, so its
    // scan reads (base skipped) + (whole delta)
    // delta is 8000 rows at 1/8 selectivity: the naive append reads the
    // whole delta (~8000), the maintained one only its y-intersecting
    // files. Margins stay modest — under full-suite memory pressure the
    // parquet writer flushes row groups at different points, moving the
    // skip boundaries — but the benefit must stay structural: at least
    // a quarter of the delta skipped, and strictly fewer rows read.
    assert(nRead > zRead + 2000,
      s"naive append read $nRead, maintained $zRead — no skipping benefit")
    assert(zRead < nRead, s"maintained layout read $zRead vs naive $nRead")
  }

  test("zorder re-fit trigger: a shifted delta trips layout drift, an " +
      "in-distribution delta doesn't") {
    val rows = (0 until 40000).map { i =>
      ((i * 2654435761L) % 100000, (i * 40503L) % 100000)
    }
    val base = rows.take(32000).toDF("x", "y")
    val inDist = rows.drop(32000).toDF("x", "y")
    val cols = Seq("x", "y")
    val bounds = graft.operators.ZOrder.layoutBounds(base, cols)
    // a fresh sample of the fitted distribution: occupancy stays ~uniform
    val quiet = graft.operators.ZOrder.layoutDriftPpm(inDist, cols, bounds)
    assert(quiet.keySet === Set("x", "y"))
    assert(quiet.values.forall(_ < 100000L), s"in-dist drift: $quiet")
    assert(!graft.operators.ZOrder.refitNeeded(inDist, cols, bounds))
    // x collapses into the bottom fifth of its fitted range (the mix
    // moved); y untouched — the trigger must name the drifted dimension
    val shifted = inDist.withColumn("x", col("x") % 20000L)
    val moved = graft.operators.ZOrder.layoutDriftPpm(shifted, cols, bounds)
    assert(moved("x") > 250000L, s"shifted drift: $moved")
    assert(moved("y") < 100000L, s"undrifted dim flagged: $moved")
    assert(graft.operators.ZOrder.refitNeeded(shifted, cols, bounds))
    // an empty delta is quiet, not a division by zero
    assert(!graft.operators.ZOrder.refitNeeded(inDist.limit(0), cols, bounds))
    // mismatched cols/bounds must fail loudly, never zip-truncate a
    // dimension out of the drift report
    intercept[IllegalArgumentException] {
      graft.operators.ZOrder.layoutDriftPpm(shifted, cols, bounds.take(1))
    }
    intercept[IllegalArgumentException] {
      graft.operators.ZOrder.layoutDriftPpm(shifted, Nil, Array.empty)
    }
  }

  test("hilbert curve: bijection, grid adjacency, codegen ≡ twin, " +
      "tighter partition boxes than morton") {
    import graft.functions.HilbertCode.index
    // order-3 grid: a bijection 64 cells → 0..63 where CONSECUTIVE curve
    // positions are grid-adjacent (|Δx|+|Δy| = 1) — the property the
    // Z-curve lacks (diagonal jumps at power-of-two boundaries)
    val cells = for (x <- 0 until 8; y <- 0 until 8)
      yield (x.toLong, y.toLong, index(3, x, y))
    assert(cells.map(_._3).sorted === (0L until 64L))
    val byD = cells.map { case (x, y, d2) => d2 -> (x, y) }.toMap
    (0L until 63L).foreach { d2 =>
      val (x1, y1) = byD(d2)
      val (x2, y2) = byD(d2 + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1L,
        s"positions $d2 and ${d2 + 1} not adjacent")
    }
    // endpoints of the classic order-1 curve
    assert(index(1, 0, 0) === 0L && index(1, 0, 1) === 1L &&
      index(1, 1, 1) === 2L && index(1, 1, 0) === 3L)
    // SQL-door codegen ≡ the interpreter twin
    graft.functions.GraftFunctions.registerAll(spark)
    val r = spark.sql("SELECT hilbert_code(12345L, 54321L)").head()
    assert(r.getLong(0) ===
      graft.functions.HilbertCode.index16(12345L, 54321L))
    // locality: on uniform 2-D data, hilbert partitions' summed
    // semi-perimeter is no worse than morton's (tighter or equal boxes)
    val n = 4000
    val rows = (0 until n).map { i =>
      ((i * 2654435761L) % 100000, (i * 40503L) % 100000)
    }
    val df = rows.toDF("x", "y")
    def semiPerimeter(curve: String): Long =
      graft.operators.ZOrder.clusterN(df, Seq("x", "y"), partitions = 8,
          curve = curve)
        .select(spark_partition_id().as("p"), col("x"), col("y"))
        .groupBy("p")
        .agg(((max("x") - min("x")) + (max("y") - min("y"))).as("sp"))
        .agg(sum("sp")).head().getLong(0)
    val h = semiPerimeter("hilbert")
    val m = semiPerimeter("morton")
    assert(h <= m, s"hilbert boxes ($h) must not be looser than morton ($m)")
  }

  test("compaction planner: exhaustive assignment, bounded bin fills, " +
      "real directory listing") {
    import graft.operators.Compaction
    // synthetic manifest: 200 files, skewed sizes 1..~12 MB
    val files = (1 to 200).map(i =>
      (f"part-$i%05d.parquet", ((i * 2654435761L) % 12000000L) + 1000000L))
      .toDF("file", "bytes")
    val target = 128L * 1000 * 1000
    val assigned = Compaction.plan(files, target).cache()
    // every file lands in exactly one bin
    assert(assigned.count() === 200L)
    assert(assigned.select("file").distinct().count() === 200L)
    val total = files.agg(sum("bytes")).head().getLong(0)
    val maxFile = files.agg(max("bytes")).head().getLong(0)
    val bins = Compaction.planSummary(assigned).collect()
    assert(bins.map(_.getLong(2)).sum === total)
    // prefix-floor guarantee: every fill within (target-maxFile,
    // target+maxFile); only the LAST bin may be smaller
    assert(bins.map(_.getLong(0)).toSeq ===
      (0L until bins.length.toLong).toSeq, "bins must be contiguous")
    bins.dropRight(1).foreach { b =>
      val fill = b.getLong(2)
      assert(fill > target - maxFile && fill < target + maxFile,
        s"bin ${b.getLong(0)} fill $fill out of bounds")
    }
    assert(bins.length === (total / target + 1).toInt)
    assigned.unpersist()
    // the directory door: list a real parquet dir and plan it
    val dir = java.nio.file.Files.createTempDirectory("compact").toString
    spark.range(10000).repartition(16).write.parquet(s"$dir/t")
    val listed = Compaction.filesOf(spark, s"$dir/t")
    assert(listed.count() === 16L)
    assert(listed.agg(min("bytes")).head().getLong(0) > 0L)
    val onePlan = Compaction.plan(listed, Long.MaxValue)
    assert(onePlan.select("bin").distinct().count() === 1L,
      "a huge target must produce a single bin")
    // a PARTITIONED layout (data in k=v subdirectories) must yield the
    // full recursive manifest, not a silently-empty plan; metadata
    // dirs/files (_ and . prefixed) stay excluded at any depth
    spark.range(10000).withColumn("k", pmod(col("id"), lit(4)))
      .repartition(4).write.partitionBy("k").parquet(s"$dir/pt")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/pt/_delta_log"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/pt/_delta_log/0.json"),
      "{}".getBytes("UTF-8"))
    val part = Compaction.filesOf(spark, s"$dir/pt")
    assert(part.count() >= 4L, "partitioned data files must be listed")
    assert(part.filter(col("file").contains("k=")).count() === part.count(),
      "every listed file sits under a partition directory")
    assert(part.filter(col("file").contains("_delta_log")).count() === 0L)
  }

  test("zorder clusterN: 3-D layout keeps disjoint ranges and prunes " +
      "the third dimension") {
    val n = 4000
    val rows = (0 until n).map { i =>
      ((i * 2654435761L) % 100000, (i * 40503L) % 100000,
        (i * 2246822519L) % 100000)
    }
    val df = rows.toDF("x", "y", "w")
    val clustered = graft.operators.ZOrder.clusterN(df, Seq("x", "y", "w"),
      partitions = 8, keepCodeAs = Some("zc"))
    val ranges = clustered.select(col("zc"))
      .mapPartitions(it => {
        val s = it.map(_.getLong(0)).toSeq
        if (s.isEmpty) Iterator.empty else Iterator((s.min, s.max))
      }).collect().sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, max1), (min2, _)) => assert(max1 <= min2)
      case _ => ()
    }
    // the THIRD dimension prunes too: a 1/8-quantile slice on w touches
    // fewer partitions than the full 8 a 2-D (x, y) layout would read
    val wHi = rows.map(_._3).sorted.apply(n / 8)
    val touched = clustered
      .select(spark_partition_id().as("p"), col("w"))
      .groupBy("p").agg(min("w").as("mn"), max("w").as("mx"))
      .where(col("mx") >= 0L && col("mn") < wHi).count()
    assert(touched <= 6L, s"3-D layout w-slice touched $touched of 8")
  }

  test("zorder cluster: one range exchange, disjoint code ranges, " +
      "locality beats a single-column sort on the off dimension") {
    // skewed 2-D data: x exponential-ish, y uniform — quantile buckets
    // must still spread the curve
    val n = 4000
    val rows = (0 until n).map { i =>
      val x = (math.pow(1.002, i) * 7).toLong % 100000
      val y = (i * 2654435761L) % 100000
      (x, y)
    }
    val df = rows.toDF("x", "y")
    val clustered = graft.operators.ZOrder.cluster(df, "x", "y",
      partitions = 8, keepCodeAs = Some("zc"))
    // exactly one exchange (the range partition) in the physical plan
    val plan = clustered.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size === 1, plan)
    // output partitions carry disjoint, ordered code ranges — the
    // property parquet min/max pruning rides on
    val ranges = clustered.select(col("zc"))
      .mapPartitions(it => {
        val s = it.map(_.getLong(0)).toSeq
        if (s.isEmpty) Iterator.empty
        else Iterator((s.min, s.max, s == s.sorted))
      }).collect().sortBy(_._1)
    assert(ranges.forall(_._3), "codes must be sorted within partitions")
    ranges.sliding(2).foreach {
      case Array((_, max1, _), (min2, _, _)) => assert(max1 <= min2)
      case _ => ()
    }
    // locality = PRUNING, the thing the layout exists for: a selective
    // slice on either dimension must touch few partitions (per-file
    // min/max skipping). A single-column x-sort prunes x perfectly but
    // every partition spans all of y — a y-slice reads the whole table.
    def touched(d: org.apache.spark.sql.DataFrame, dim: String,
                lo: Long, hi: Long): Long = d
      .select(spark_partition_id().as("p"), col(dim))
      .groupBy("p").agg(min(dim).as("mn"), max(dim).as("mx"))
      .where(col("mx") >= lo && col("mn") < hi)
      .count()
    val xSorted = df.repartitionByRange(8, col("x"))
      .sortWithinPartitions("x")
    // 1/8-of-the-rows slices per dimension (quantile slices — a raw-
    // domain slice of the exponential x would cover most rows)
    val xHi = rows.map(_._1).sorted.apply(n / 8)
    val yHi = rows.map(_._2).sorted.apply(n / 8)
    assert(touched(xSorted, "y", 0L, yHi) === 8L,
      "x-sort must be unprunable on y (the baseline this layout beats)")
    val ySlice = touched(clustered, "y", 0L, yHi)
    assert(ySlice <= 4L, s"z-layout y-slice touched $ySlice of 8")
    // x rides the LOWER interleave bits and range boundaries are
    // sample-placed (not bit-aligned), so its pruning is looser than
    // y's — but both dimensions must prune strictly below a full scan
    val xSliceZ = touched(clustered, "x", 0L, xHi)
    assert(xSliceZ <= 6L, s"z-layout x-slice touched $xSliceZ of 8")
  }

  test("bucketed as-of matches plain on NULL keys (null-safe carry join)") {
    // the plain operator's Window.partitionBy groups NULL keys together
    // and matches them; the bucketed stitch joins carries back by key, so
    // a null-UNSAFE equality there would drop exactly the cross-bucket
    // carries of NULL-keyed lefts. Rights sit far below the lefts (many
    // empty buckets between) so every match MUST ride the carry path.
    val left = Seq(
      (Option.empty[Long], 500000L, 1L),
      (Option.empty[Long], 600000L, 2L),
      (Some(7L), 500000L, 3L)).toDF("key", "ts", "lid")
    val right = Seq(
      (Option.empty[Long], -400000L, 91L),
      (Option.empty[Long], -300000L, 92L),
      (Some(7L), -350000L, 93L)).toDF("key", "ts", "rid")
    def res(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("lid") -> Option(r.getAs[Any]("asof_rid")))
      .toMap
    val want = res(graft.operators.AsOfJoin
      .asofJoin(left, right, "key", "ts", Seq("rid")))
    assert(want === Map(1L -> Some(92L), 2L -> Some(92L), 3L -> Some(93L)))
    for (b <- Seq(97L, 10000L)) {
      val got = res(graft.operators.AsOfJoin
        .asofJoinBucketed(left, right, "key", "ts", Seq("rid"), b))
      assert(got === want, s"bucketNs=$b dropped NULL-key carries")
    }
  }

  test("as-of join attaches whole right rows even with NULL payload values") {
    // right row at ts=150 has a NULL b: the match must carry (NULL, 992),
    // not resurrect b=881 from the earlier row (per-column last() would)
    val left = Seq((1L, 200L, 10L)).toDF("key", "ts", "lid")
    val right = Seq(
      (1L, 90L, Some(881L), Some(991L)),
      (1L, 150L, Option.empty[Long], Some(992L)))
      .toDF("key", "ts", "b", "rid")
    val r = graft.operators.AsOfJoin.asofJoin(left, right, "key", "ts", Seq("b", "rid"))
      .head()
    assert(Option(r.getAs[Any]("asof_b")) === None)
    assert(r.getAs[Long]("asof_rid") === 992L)
  }

  test("duplicated spans: runs of shared 5-grams localize the dup substring") {
    val d = Seq(
      (1L, "a b c d e f g h"),      // shares "a b c d e f" with doc 2
      (2L, "a b c d e f x y"),
      (3L, "q r s t u v"),          // fully unique
      (4L, "z z z z z z z z z z"),  // self-repeating: whole doc one span
      (5L, "a b")                   // shorter than k → excluded
    ).toDF("doc_id", "text")
    val r = Dedup.duplicatedSpans(d, "doc_id", col("text"), 5)
      .orderBy("did").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4)))
    assert(r.toSeq === Seq(
      (1L, 4L, 2L, 6L, 1L),  // 2 dup positions → one 6-token span
      (2L, 4L, 2L, 6L, 1L),
      (3L, 2L, 0L, 0L, 0L),
      (4L, 6L, 6L, 10L, 1L)  // all positions dup (same gram 6×) → whole doc
    ))
  }

  test("incremental dedup: index wins, survivors dedupe among themselves") {
    val old = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "some totally separate kept document body here")
    ).toDF("doc_id", "text")
    val oldSigs = Dedup.minhashSignatures(old, "doc_id", col("text"), 3, 64)
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),  // dup of kept 1
      (11L, "fresh unseen content that matches nothing else at all"),
      (12L, "another brand new document body never indexed before with many more filler tokens to stabilize the minhash estimate today"),
      (13L, "another brand new document body never indexed before with many more filler tokens to stabilize the minhash estimate today extra")
    ).toDF("doc_id", "text")                                 // 12≈13 within
    val (kept, index) = Dedup.incrementalDedup(
      batch, "doc_id", col("text"), oldSigs, thresholdPpm = 500000L)
    assert(kept.select("doc_id").collect().map(_.getLong(0)).sorted
      === Array(11L, 12L))
    assert(index.count() === 4) // 2 old + 11 + 12
    // the updated index rejects a re-send of a kept-new doc next batch
    val again = Seq((20L, "another brand new document body never indexed before with many more filler tokens to stabilize the minhash estimate today"))
      .toDF("doc_id", "text")
    val (kept2, _) = Dedup.incrementalDedup(
      again, "doc_id", col("text"), index, thresholdPpm = 500000L)
    assert(kept2.count() === 0)
    // DELETE door: retract kept doc 1 from the index — a re-send of its
    // text must now be KEPT (it no longer shadows fresh duplicates), and
    // the pruned index equals one rebuilt on the surviving corpus
    val tombs = Seq(1L).toDF("did")
    val pruned = Dedup.removeFromIndex(index, tombs)
    assert(pruned.count() === 3)
    val resend = Seq((30L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val (keptAfterDelete, _) = Dedup.incrementalDedup(
      resend, "doc_id", col("text"), pruned, thresholdPpm = 500000L)
    assert(keptAfterDelete.select("doc_id").collect().map(_.getLong(0))
      === Array(30L))
    val rebuilt = Dedup.minhashSignatures(
      old.where(col("doc_id") =!= 1L), "doc_id", col("text"), 3, 64)
      .unionByName(index.where(col("did") > 2L))
    assert(pruned.orderBy("did").collect().map(_.toSeq).toSeq
      === rebuilt.orderBy("did").collect().map(_.toSeq).toSeq)
    // the same compaction trigger rides this door: one tombstone is
    // far under any broadcast comfort line; a sub-row threshold fires
    assert(!Dedup.compactNeeded(tombs))
    assert(Dedup.compactNeeded(tombs, thresholdBytes = 32L))

    // the GENERATION door on an append-only signature store: update
    // doc 2's text — retract its gen-0 signature (it must stop
    // shadowing its old text) while the re-indexed version's row, same
    // did, survives its own tombstone
    val v1Text = "an entirely rewritten second document body with many " +
      "fresh tokens nothing like before"
    val store = Dedup.sigStampGen(index, 0L).unionByName(
      Dedup.sigStampGen(Dedup.minhashSignatures(
        Seq((2L, v1Text)).toDF("doc_id", "text"),
        "doc_id", col("text"), 3, 64), 1L))
    val gtombs = Dedup.sigGenTombstones(Seq(2L).toDF("did"), col("did"), 0L)
    val gLive = Dedup.applySigGenTombstones(store, gtombs)
    assert(gLive.where(col("did") === 2L).count() === 1L,
      "gen door must keep exactly the fresh signature for the updated id")
    // the plain door swallows the fresh row — the failure gens avoid
    assert(Dedup.removeFromIndex(store, gtombs.select(col("did")))
      .where(col("did") === 2L).count() === 0L)
    // a re-send of the OLD text is now kept (old sig retracted); a
    // re-send of the NEW text is filtered (fresh sig shadows it)
    val gIdx = gLive.select(col("did"), col("sig"))
    val (keptOld, _) = Dedup.incrementalDedup(
      Seq((40L, old.where(col("doc_id") === 2L)
        .collect().head.getString(1))).toDF("doc_id", "text"),
      "doc_id", col("text"), gIdx, thresholdPpm = 500000L)
    assert(keptOld.count() === 1L, "retracted version still shadows")
    val (keptNew, _) = Dedup.incrementalDedup(
      Seq((41L, v1Text)).toDF("doc_id", "text"),
      "doc_id", col("text"), gIdx, thresholdPpm = 500000L)
    assert(keptNew.count() === 0L, "fresh version must shadow its dup")
  }

  test("winnowing: shared run of w+k-1 tokens guarantees a shared print") {
    // k=5, w=4 → guarantee length 8; the docs share exactly the 8-token
    // run "a b c d e f g h" inside otherwise-disjoint text
    val d = Seq(
      (1L, "p1 q1 r1 s1 a b c d e f g h t1 u1 v1 w1"),
      (2L, "m2 n2 a b c d e f g h o2 z2 k2 l2 j2 i2")
    ).toDF("doc_id", "text")
    val shared = Dedup.winnowedFingerprints(d, "doc_id", col("text"), 5, 4)
      .groupBy("f").agg(countDistinct("did").as("n"))
      .where(col("n") === 2).count()
    assert(shared >= 1, "winnowing guarantee violated")
  }

  test("winnow pairs: finds the near-dup, boilerplate guard kills hot prints") {
    val nearDups = Seq(
      (1L, "a b c d e f g h i j k l m n o p"),
      (2L, "a b c d e f g h i j k l m n o q"),  // near-dup of 1
      (3L, "z9 y9 x9 w9 v9 u9 t9 s9 r9 q9 p9 o9")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(nearDups, "doc_id", col("text")).collect()
    assert(pairs.length === 1 &&
      pairs(0).getLong(0) === 1L && pairs(0).getLong(1) === 2L)

    // four identical docs: every print has df=4 > maxDf=3 → all dropped
    val boiler = Seq.tabulate(4)(i => (i.toLong, "a b c d e f g h i j"))
      .toDF("doc_id", "text")
    assert(Dedup.winnowPairs(boiler, "doc_id", col("text"),
      maxDf = 3).count() === 0)
  }

  test("pii scrub: counts per class, redaction order keeps classes disjoint") {
    val d = Seq(
      (1L, "reach me at jane.doe+spam@mail.example.org or 555-0142 thanks"),
      (2L, "server 192.168.1.200 and 10.0.0.7 rebooted"),
      (3L, "no pii here at all"),
      (4L, "a@b.io b@c.net 555-9999 1.2.3.4")
    ).toDF("doc_id", "text")
    val r = Pii.signals(d, col("doc_id"), col("text"))
      .orderBy("did").collect()
    assert(r.map(_.getLong(1)).toSeq === Seq(1L, 0L, 0L, 2L)) // emails
    assert(r.map(_.getLong(2)).toSeq === Seq(1L, 0L, 0L, 1L)) // phones
    assert(r.map(_.getLong(3)).toSeq === Seq(0L, 2L, 0L, 1L)) // ipv4
    val clean = d.select(col("doc_id"), Pii.scrub(col("text")).as("c"))
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(clean(0) === "reach me at <EMAIL> or <PHONE> thanks")
    assert(clean(1) === "server <IP> and <IP> rebooted")
    assert(clean(2) === "no pii here at all")
    assert(clean(3) === "<EMAIL> <EMAIL> <PHONE> <IP>")
  }

  test("quality signals are integer-exact") {
    val r = TextAnalysis.qualitySignals(
      Seq((1L, "the cat sat")).toDF("doc_id", "text"), $"text")
      .select("n_tokens", "n_distinct_tokens", "mean_token_len_x100", "stopword_ppm")
      .head()
    assert(r.getLong(0) === 3 && r.getLong(1) === 3)
    assert(r.getLong(2) === 300) // 9 chars / 3 tokens * 100
    assert(r.getLong(3) === 333333) // 1 stopword of 3
  }

  test("salts are deterministic: no monotonically_increasing_id in plans") {
    // a retried task recomputes the same salt for the same row, so partial
    // stage retries cannot double/drop salted partials
    val files = graft.inodes.InodeView
      .snapshot(spark, "/root/testdata/sf0.001").where($"isFile")
    val saltedPlan = graft.engine.Skew
      .saltedCount(files.select($"id", $"user"), $"user", salts = 4)
      .queryExecution.executedPlan.toString
    assert(!saltedPlan.contains("monotonically"), "salt must be deterministic")
    spark.conf.set("graft.skew.salts", "8")
    try {
      val histPlan = graft.engine.Histograms
        .histogram(files, $"user", count(lit(1)))
        .queryExecution.executedPlan.toString
      assert(histPlan.contains("__salt") && !histPlan.contains("monotonically"))
      // DISTINCT aggregates must refuse the salted path: per-salt distinct
      // partials would double-count values split across buckets
      val distinctPlan = graft.engine.Histograms
        .histogram(files, $"user", count_distinct($"group"))
        .queryExecution.executedPlan.toString
      assert(!distinctPlan.contains("__salt"),
        "count(DISTINCT) must not take the salted two-phase path")
    } finally spark.conf.set("graft.skew.salts", "0")
    // and twice the same salted query gives identical results
    val a = graft.engine.Skew.saltedCount(files, $"user", 4).collect().toSet
    val b = graft.engine.Skew.saltedCount(files, $"user", 4).collect().toSet
    assert(a === b)
  }

  /** The Spark jobs `body` launches. */
  private def jobsDuring(body: => Unit): Int =
    SparkActivity.measure(spark)(body)._2.jobs

  test("broadcast gate decision is memoized per snapshot and invalidated") {
    val ino = graft.inodes.InodeView.snapshot(spark, "/root/testdata/sf0.001")
    def q(): Unit =
      graft.engine.PathStructure.underQuota(ino, "nsQuota").count(): Unit
    q() // warm: gate decision cached for (ino, nsQuota)
    val warm = jobsDuring(q())
    graft.engine.PathStructure.invalidateGates(ino)
    val cold = jobsDuring(q())
    // the bounded limit-count may stage over >1 job; what matters is that
    // it runs at all when cold and not at all when memoized
    assert(cold > warm,
      s"invalidated gate must re-run the count (warm=$warm cold=$cold)")
    assert(jobsDuring(q()) === warm, "gate must be memoized again after re-count")
  }

  test("approx twins stay inside their error bounds") {
    val v = SparkEntry.queries("text_vocab_approx")(spark, "/root/testdata/sf0.001").head()
    assert(v.getBoolean(1), s"HLL drifted >5 sigma: ${v}")
    val pct = SparkEntry.queries("nna_size_percentiles_approx")(
      spark, "/root/testdata/sf0.001").head()
    assert(pct.getBoolean(1) && pct.getBoolean(2) && pct.getBoolean(3),
      s"approx_percentile rank outside 1/accuracy bound: ${pct}")
  }

  test("image decode: PNG round trip is pixel-exact; bad payloads flagged") {
    import spark.implicits._
    val specs = Seq((7L, 5, 4), (8L, 3, 3)).toDF("asset_id", "w", "h")
    val assets = graft.pipeline.Multimodal.renderPngAssets(spark, specs)
      .unionByName(Seq((99L, "not a png".getBytes("UTF-8")))
        .toDF("asset_id", "content"))
    val got = graft.pipeline.Multimodal.decodeImageFeatures(spark, assets)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    def sums(seed: Long, w: Int, h: Int) = {
      var (sr, sg, sb) = (0L, 0L, 0L)
      for (y <- 0 until h; x <- 0 until w) {
        val base = x * 31L + y * 17L + seed * 7L
        sr += base % 256; sg += (base + 11) % 256; sb += (base + 22) % 256
      }
      (sr, sg, sb)
    }
    val (r7, g7, b7) = sums(7L, 5, 4)
    assert(got(7L) === ((5, 4, 3, r7, g7, b7)))
    val (r8, g8, b8) = sums(8L, 3, 3)
    assert(got(8L) === ((3, 3, 3, r8, g8, b8)))
    assert(got(99L) === ((-1, -1, -1, 0L, 0L, 0L)), "undecodable must be flagged, not dropped")
  }

  test("window funnel: ordering and window constraints, greedy-earliest chain") {
    import spark.implicits._
    // user 1: full in-order chain inside the window        -> level 3
    // user 2: step B BEFORE step A -> chain stops at A     -> level 1
    // user 3: step B beyond the window of t1               -> level 1
    // user 4: greedy trap — B exists after A but the only C is before
    //         that B; greedy picks earliest valid B, C fails -> level 2
    // user 5: no step A at all                             -> level 0
    val ev = Seq(
      (1L, "A", 100L), (1L, "B", 200L), (1L, "C", 300L),
      (2L, "B", 50L), (2L, "A", 100L),
      (3L, "A", 100L), (3L, "B", 5000L),
      (4L, "A", 100L), (4L, "C", 150L), (4L, "B", 200L),
      (5L, "B", 100L), (5L, "C", 200L)
    ).map { case (u, t, ts) => (u, t, ts, 0L) }
      .toDF("user_id", "event_type", "ts", "pad")
    val census = graft.operators.WindowFunnel.funnelCensus(
        ev, Seq("A", "B", "C"), windowNs = 1000L)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(census(1L) === ((4L, 1L ^ 2L ^ 3L ^ 4L)))  // A reached by 1,2,3,4
    assert(census(2L) === ((2L, 1L ^ 4L)))            // B: users 1 and 4
    assert(census(3L) === ((1L, 1L)))                 // C: only user 1
  }

  test("any-start funnel recovers chains the greedy-earliest census drops") {
    import spark.implicits._
    // user 1: first A's window (1000) expires before its B, but a SECOND
    //   A at 5000 completes A→B→C — greedy level 1, any-start level 3
    // user 2: single anchor, C precedes B — level 2 in both semantics
    // user 3: control — single full chain, both semantics level 3
    val ev = Seq(
      (1L, "A", 100L), (1L, "A", 5000L), (1L, "B", 5200L), (1L, "C", 5400L),
      (2L, "A", 100L), (2L, "C", 150L), (2L, "B", 200L),
      (3L, "A", 100L), (3L, "B", 200L), (3L, "C", 300L)
    ).map { case (u, t, ts) => (u, t, ts, 0L) }
      .toDF("user_id", "event_type", "ts", "pad")
    def depths(census: Map[Long, Long]): (Long, Long, Long) =
      (census.getOrElse(1L, 0L), census.getOrElse(2L, 0L),
        census.getOrElse(3L, 0L))
    val greedy = graft.operators.WindowFunnel.funnelCensus(
        ev, Seq("A", "B", "C"), windowNs = 1000L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val any = graft.operators.WindowFunnel.funnelCensusAnyStart(
        ev, Seq("A", "B", "C"), windowNs = 1000L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(depths(greedy) === ((3L, 2L, 1L))) // only user 3 completes
    assert(depths(any) === ((3L, 3L, 2L)))    // user 1 recovered end-to-end
    // anchor cap 1 = greedy-earliest again (the earliest anchor per user)
    val capped = graft.operators.WindowFunnel.funnelCensusAnyStart(
        ev, Seq("A", "B", "C"), windowNs = 1000L, maxAnchorsPerUser = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(depths(capped) === depths(greedy))
  }

  test("any-start funnel: default 64-anchor cap bounds a bot's fan-out; 0 opts out") {
    import spark.implicits._
    // bot user 1 fires 100 step-1 events — uncapped, each later-step event
    // would join all 100 live anchors (the m·n skewed-key hazard); the
    // default cap keeps the 64 EARLIEST anchors, and reach is unchanged
    // because any anchor whose window covers the view completes the chain
    val ev = spark.range(100).select(lit(1L).as("user_id"),
        lit("signup").as("event_type"), (col("id") * 10L).as("ts"))
      .unionAll(Seq((1L, "view", 5000L)).toDF("user_id", "event_type", "ts"))
    val steps = Seq("signup", "view")
    val capped = graft.operators.WindowFunnel
      .funnelTimesAnyStart(ev, steps, 100000L)
    assert(capped.head.count() === 64L)   // default cap bit
    assert(capped.last.count() === 64L)   // every capped anchor reaches view
    val uncapped = graft.operators.WindowFunnel
      .funnelTimesAnyStart(ev, steps, 100000L, maxAnchorsPerUser = 0)
    assert(uncapped.head.count() === 100L) // explicit opt-out keeps all
    // the user-level census is identical either way
    val reach = graft.operators.WindowFunnel
      .funnelCensusAnyStart(ev, steps, 100000L)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(reach === Map(1L -> 1L, 2L -> 1L))
  }

  test("auto bucket width bounds range-join candidate fan-out under span drift") {
    // 1000 typical intervals (span 1000) + 10 whales (span 100k): p95
    // anchors the width at the typical span, so the explode fan-out stays
    // O(intervals) — a caller-fixed width sized for the whales (100k)
    // would pile every typical interval's points into shared buckets,
    // and one sized at, say, 10 would explode each typical interval 100×.
    val ivs = spark.range(1000).select(col("id").as("iid"),
        (col("id") * 200000L).as("s"), (col("id") * 200000L + 1000L).as("e"))
      .unionAll(spark.range(10).select((col("id") + 5000L).as("iid"),
        (col("id") * 200000L + 50000L).as("s"),
        (col("id") * 200000L + 150000L).as("e")))
    val w = graft.operators.RangeJoin.autoBucketWidth(ivs, "s", "e")
    assert(w >= 1000L, s"width $w undershoots the typical span")
    val fanOut = ivs.selectExpr(s"sum(e div $w - s div $w + 1) AS f")
      .head.getLong(0)
    assert(fanOut <= 4 * 1010L,
      s"exploded candidate rows $fanOut exceed the O(intervals) bound")
    // the width choice must never change RESULTS — auto ≡ any fixed width
    val pts = spark.range(200).select(col("id").as("pid"),
      (col("id") * 997L).as("p"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("pid", "iid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = pairs(graft.operators.RangeJoin
      .rangeJoinAuto(pts, "p", ivs, "s", "e"))
    val fixed = pairs(graft.operators.RangeJoin
      .rangeJoin(pts, "p", ivs, "s", "e", 12345L))
    assert(auto === fixed)
  }

  test("hashed embeddings: near-dup texts score near 1, unrelated far below") {
    import spark.implicits._
    // longer docs: the ±hash signal concentrates with token count (the
    // sf fixtures' ~40-token docs separate at 0.99; 8-token toys don't)
    val a = (1 to 30).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, a),
      (2L, a.replace("w7 ", "zz ")),                     // 29 of 30 shared
      (3L, (1 to 30).map(i => s"q$i").mkString(" "))     // disjoint vocab
    ).toDF("doc_id", "text")
    val v = df.select($"doc_id",
      TextAnalysis.hashedEmbedding($"text", 16).as("e"))
    val sims = v.as("a").crossJoin(v.as("b"))
      .where($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id",
        Similarity.cosine($"a.e", $"b.e").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(sims((1L, 2L)) > 0.85, s"near-dup pair too low: ${sims((1L, 2L))}")
    assert(sims((1L, 3L)) < 0.6, s"unrelated pair too high: ${sims((1L, 3L))}")
    // deterministic: same text -> bit-identical vector
    val twice = df.union(df).select(
      TextAnalysis.hashedEmbedding($"text", 16).as("e"))
      .distinct().count()
    assert(twice === 3L)
  }

  test("bipartite near-dup: cross-side copies found, within-side pairs never emitted") {
    import spark.implicits._
    val mk = (seed: Int) => Array.tabulate(8)(j => ((seed * 7 + j * 13) % 19 - 9).toFloat)
    val probes = Seq((0L, mk(1)), (1L, mk(2))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, mk(1)),   // exact copy of probe 0 -> must be flagged
      (11L, mk(2)),   // exact copy of probe 1 -> must be flagged
      (12L, mk(9)),   // unrelated
      (13L, mk(9))    // within-corpus duplicate pair: NOT this op's job
    ).toDF("vec_id", "embedding")
    val pairs = Similarity.crossNearDupPairs(corpus, probes, 999000L)
      .select("cid", "pid").as[(Long, Long)].collect().toSet
    assert(pairs === Set((10L, 0L), (11L, 1L)))
  }

  test("audio decode: WAV/PCM round trip is sample-exact; bad payloads flagged") {
    import spark.implicits._
    val specs = Seq((3L, 8000, 120), (4L, 16000, 7)).toDF("asset_id", "rate", "n")
    val assets = graft.pipeline.Multimodal.renderWavAssets(spark, specs)
      .unionByName(Seq((99L, "not a wav".getBytes("UTF-8")))
        .toDF("asset_id", "content"))
    val got = graft.pipeline.Multimodal.decodeAudioFeatures(spark, assets)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    def sums(seed: Long, n: Int) = {
      val ss = (0 until n).map(i => ((i * 31L + seed * 7L) % 4001L) - 2000L)
      (ss.map(math.abs).sum, ss.map(math.abs).max)
    }
    val (abs3, peak3) = sums(3L, 120)
    assert(got(3L) === ((8000, 1, 16, 120L, abs3, peak3)))
    val (abs4, peak4) = sums(4L, 7)
    assert(got(4L) === ((16000, 1, 16, 7L, abs4, peak4)))
    assert(got(99L) === ((-1, -1, -1, 0L, 0L, 0L)), "undecodable must be flagged, not dropped")
  }

  test("repeated n-grams: exact dups fully duplicated, unique doc at zero") {
    val st = Curation.repeatedNgramStats(docs, "doc_id", $"text", 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(st(1L)._3 === 1000000L && st(4L)._3 === 1000000L) // exact dups
    assert(st(5L)._3 === 0L)                                 // nothing shared
    assert(st(2L)._2 > 0 && st(2L)._3 < 1000000L)            // near-dup partial
    assert(st.values.forall { case (n, d, _) => d <= n })
  }

  test("quality terciles: per-language thirds, head outscores tail") {
    val docs5 = core.Tables.documents(spark, "/root/testdata/sf0.001")
    val t = Curation.qualityTerciles(docs5, $"doc_id", $"lang", $"text")
    val byLang = t.groupBy("lang").pivot("bucket")
      .agg(count(lit(1))).collect()
    byLang.foreach { r =>
      val (h, m, tl) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(math.abs(h - tl) <= 1 && math.abs(h - m) <= 1) // ntile thirds
    }
    val scores = t.groupBy("bucket")
      .agg(min($"score_ppm").as("mn"), max($"score_ppm").as("mx"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(scores("head")._1 >= scores("tail")._2 ||
      scores("head")._2 >= scores("tail")._2) // head dominates within lang
  }

  test("domain cap keeps min(cap, total) per source, deterministically") {
    val docs5 = core.Tables.documents(spark, "/root/testdata/sf0.001")
    val c1 = Curation.domainCapCensus(docs5, $"doc_id", $"source", 3)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
    c1.foreach { case (_, (total, kept, _)) =>
      assert(kept === math.min(3L, total))
    }
    val c2 = Curation.domainCapCensus(docs5, $"doc_id", $"source", 3)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(c1.toMap === c2.toMap) // same kept SET (id sums) every run
  }

  test("pack bins: conserve docs+tokens, bins consecutive, fills near budget") {
    val docs5 = core.Tables.documents(spark, "/root/testdata/sf0.001")
    val budget = 512L
    val bins = Curation.packBins(docs5, $"doc_id", $"text", budget)
      .orderBy("bin").collect()
    val nDocs = docs5.count()
    val nTokens = docs5.select(sum(TextAnalysis.tokenCount($"text")))
      .head().getLong(0)
    assert(bins.map(_.getLong(1)).sum === nDocs)
    assert(bins.map(_.getLong(2)).sum === nTokens)
    assert(bins.map(_.getLong(0)).toSeq === (0L until bins.length).toSeq)
    val maxDoc = docs5.select(max(TextAnalysis.tokenCount($"text")))
      .head().getLong(0)
    // a bin closes only when cum passes the boundary: fill < budget + maxDoc
    bins.foreach(r => assert(r.getLong(2) < budget + maxDoc))
  }

  test("bloom prefilter: no false negatives, exact result matches semi-join") {
    val docsAll = core.Tables.documents(spark, "/root/testdata/sf0.001")
    val bench = docsAll.where($"doc_id" < 50)
    val train = docsAll.where($"doc_id" >= 50)
    // every bench gram passes its own bloom — false negatives impossible
    val benchHashes = bench
      .select(explode(Dedup.shingles($"text", 5)).as("g"))
      .select(Dedup.portableHash($"g").as("gh")).distinct()
    val words = Curation.bloomWords(
      benchHashes.collect().map(_.getLong(0)))
    assert(benchHashes.where(!Curation.bloomMightContain(words, $"gh"))
      .count() === 0L)
    // the bloom path's contaminated set is EXACTLY the plain path's
    val viaBloom = Curation.bloomDecontaminationStats(
        train, bench, "doc_id", $"text", 5)
      .where($"contaminated" === 1L).select("did")
      .collect().map(_.getLong(0)).toSet
    val plain = Curation.contaminatedIds(train, bench, "doc_id", $"text", 5)
      .collect().map(_.getLong(0)).toSet
    assert(viaBloom === plain)
  }

  test("chunking: strided windows tile each doc, tails clamped, content hashed") {
    // 9 tokens, win=4 stride=3 -> starts 0,3,6; lengths 4,4,3
    val one = docs.where($"doc_id" === 1)
    val ch = Curation.chunkTokens(one, "doc_id", $"text", 4, 3)
      .orderBy("chunk_idx").collect()
    assert(ch.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ===
      Seq((0L, 0L, 4L), (1L, 3L, 4L), (2L, 6L, 3L)))
    // window content is pinned: chunk 2 is the last three tokens
    val wantHash = one.select(
      Dedup.portableHash(lit("the lazy dog"))).head().getLong(0)
    assert(ch(2).getLong(4) === wantHash)
    // stride == win tiles exactly: chunk token counts sum to doc tokens
    val tiled = Curation.chunkTokens(docs, "doc_id", $"text", 4, 4)
      .groupBy("did").agg(sum("n_tok_chunk").as("s"))
    val toks = docs.select($"doc_id".as("did"),
      TextAnalysis.tokenCount($"text").as("n"))
    assert(tiled.join(toks, Seq("did")).where($"s" =!= $"n").count() === 0L)
    // shuffle-free: chunking is explode-only, no Exchange in the plan
    val plan = Curation.chunkTokens(docs, "doc_id", $"text", 4, 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("mixture plan: budget binds on the scarcest language, never upsamples") {
    // en: 12 tokens, es: 3 tokens; uniform 50% target -> S = 3/0.5 = 6,
    // keep 3 tokens each: en rate 250000 ppm, es rate 1000000 ppm
    val mix = Seq(
      (1L, "en", "a b c d e f"), (2L, "en", "g h i j k l"),
      (3L, "es", "x y z")
    ).toDF("doc_id", "lang", "text")
    val plan = Curation.mixturePlan(mix, $"lang", $"text",
        Map("en" -> 500000L, "es" -> 500000L))
      .orderBy("lang").collect()
    assert(plan.map(r => (r.getString(0), r.getLong(1), r.getLong(3),
      r.getLong(4))).toSeq ===
      Seq(("en", 12L, 3L, 250000L), ("es", 3L, 3L, 1000000L)))
    // no language keeps more than it has
    plan.foreach(r => assert(r.getLong(3) <= r.getLong(1)))
  }

  test("unigram commonness: repeated-token docs outscore rare-token docs") {
    // corpus: 'a' appears 6x, 'b' 2x, each unique tail token 1x (N=12)
    val df = Seq(
      (1L, "a a a a a a"),   // sumc=36, n=6  -> 1e6*36/72  = 500000
      (2L, "b b q r"),       // sumc=2+2+1+1=6, n=4 -> 1e6*6/48 = 125000
      (3L, "s t")            // sumc=2, n=2 -> 1e6*2/24 = 83333
    ).toDF("doc_id", "text")
    val got = TextAnalysis.unigramCommonness(df, "doc_id", $"text")
      .orderBy("did").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 6L, 500000L), (2L, 4L, 125000L),
      (3L, 2L, 83333L)))
  }

  test("range join: inclusive bounds, multi-bucket intervals, no dup pairs") {
    val pts = Seq((1L, 5L), (2L, 10L), (3L, 25L), (4L, 31L)).toDF("pid", "p")
    val ivs = Seq((100L, 5L, 10L), (200L, 8L, 30L)).toDF("iid", "s", "e")
    val got = graft.operators.RangeJoin.rangeJoin(pts, "p", ivs, "s", "e", 10L)
      .select("pid", "iid").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // each qualifying (point, interval) appears EXACTLY once even though
    // interval 200 spans buckets 0..3; bounds are inclusive on both ends
    assert(got.length === got.toSet.size)
    assert(got.toSet === Set((1L, 100L), (2L, 100L), (2L, 200L), (3L, 200L)))
  }

  test("range join: negative values fail loudly instead of dropping pairs") {
    // div truncates toward zero: point -5 would land in bucket 0 while a
    // floor-consistent explode covers bucket -1 — pairs silently lost.
    // The guard raises instead.
    val pts = Seq((1L, -5L)).toDF("pid", "p")
    val ivs = Seq((100L, -8L, 2L)).toDF("iid", "s", "e")
    val e = intercept[Exception] {
      graft.operators.RangeJoin.rangeJoin(pts, "p", ivs, "s", "e", 10L)
        .collect()
    }
    assert(e.getMessage.contains("negative"))
  }

  test("pq_codes fails loudly on a truncated embedding") {
    val cbs = Array.fill(2)(Array(Array(0.0, 0.0))) // m=2, subDim=2 → needs 4
    val short = Seq((1L, Seq(0.1f, 0.2f, 0.3f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      short.select(graft.functions.PqCodes.pq_codes($"embedding", cbs))
        .collect()
    }
    assert(e.getMessage.contains("pq_codes") ||
      e.getCause != null && e.getCause.getMessage.contains("pq_codes"))
  }

  test("overlap join: exactly-once via canonical bucket, closed bounds") {
    val l = Seq((1L, 0L, 35L), (2L, 40L, 45L)).toDF("lid", "ls", "le")
    val r = Seq((10L, 15L, 60L), (11L, 36L, 39L), (12L, 0L, 100L))
      .toDF("rid", "rs", "re")
    val got = graft.operators.RangeJoin.intervalOverlapJoin(
      l, "ls", "le", r, "rs", "re", 10L)
      .select("lid", "rid").collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    // (1,10) and the (·,12) pairs share MANY buckets — each must appear once
    assert(got.length === got.toSet.size)
    assert(got.toSet === Set((1L, 10L), (1L, 12L), (2L, 10L), (2L, 12L)))
  }

  test("retention matrix: offset-0 cell is the cohort's full size and max") {
    val ret = PipelineQueries.queries("events_retention")(
      spark, "/root/testdata/sf0.001").collect()
    assert(ret.nonEmpty)
    assert(ret.forall(_.getLong(1) >= 0L)) // week_offset never negative
    // every user is active in their cohort week, so the offset-0 cell
    // holds the whole cohort and no later offset can exceed it
    val byCohort = ret.groupBy(_.getLong(0))
    byCohort.foreach { case (_, cells) =>
      val zero = cells.find(_.getLong(1) == 0L)
      assert(zero.isDefined)
      assert(cells.forall(_.getLong(2) <= zero.get.getLong(2)))
    }
    // total cohort membership equals the distinct-user census
    val users = core.Tables.events(spark, "/root/testdata/sf0.001")
      .select("user_id").distinct().count()
    assert(ret.filter(_.getLong(1) == 0L).map(_.getLong(2)).sum === users)
  }

  test("filter audit: first-fail counters match direct counts, sum to total") {
    val d = core.Tables.documents(spark, "/root/testdata/sf0.001")
    val stages = Observability.standardStages()
    val census = Observability.auditCensus(spark, d, stages)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    // independently recompute each stage's first-fail count
    val total = d.count()
    val s1 = d.where(!(col("n_chars") >= 150)).count()
    val s2 = d.where(col("n_chars") >= 150 && col("lang") === "zh").count()
    val kept = d.where(stages.map(_._2).reduce(_ && _)).count()
    assert(census("too_short") === s1)
    assert(census("non_latin") === s2)
    assert(census("kept") === kept)
    assert(census.values.sum === total) // Σ dropped + kept = total
    assert(census.values.count(_ > 0) >= 3) // fixture exercises the stages
  }

  test("filter audit is free: observation adds zero jobs over the plain count") {
    val d = core.Tables.documents(spark, "/root/testdata/sf0.001")
    val stages = Observability.standardStages()
    // baseline: kept-count with no accounting (AQE may split it into
    // more than one job; the claim is the audit adds NONE on top)
    val baseline = jobsDuring(
      d.where(stages.map(_._2).reduce(_ && _)).count(): Unit)
    var kept = 0L
    val obs = new org.apache.spark.sql.Observation()
    val audited = jobsDuring {
      kept = Observability.filterAudited(d, stages, obs).count()
    }
    assert(audited === baseline)
    assert(obs.get("kept").asInstanceOf[Long] === kept)
  }
}
