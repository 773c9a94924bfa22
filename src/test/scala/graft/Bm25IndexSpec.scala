package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.{Bm25Index, Dedup, TextAnalysis}

/** The persistent posting-list index ([[pipeline.Bm25Index]]) must be an
  * exact, amortized re-expression of the index-free scorer: same scores,
  * same ranks, incrementally maintainable, and physically partition-pruned
  * when persisted.
  */
class Bm25IndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val nBuckets = 64
  private val qTerms = Seq("alpha", "gamma", "epsilon")

  /** Deterministic corpus over a small vocabulary: term frequencies,
    * doc lengths, and document frequencies all vary across docs. */
  private def corpus(from: Int, until: Int) = {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta")
    (from until until).map { i =>
      val words = (0 to (i % 9) + 2).map { j =>
        vocab(((i * 2654435761L + j * 40503L) % vocab.size).toInt.abs)
      }
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("index search equals the index-free scan, scores and ranks") {
    val docs = corpus(0, 500)
    val (postings, stats) =
      Bm25Index.build(docs, col("doc_id"), col("text"), nBuckets)
    val viaIndex = Bm25Index
      .search(postings, stats, qTerms, 20, nBuckets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaScan = TextAnalysis
      .bm25TopK(docs, col("doc_id"), col("text"), qTerms, 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaIndex.nonEmpty && viaIndex === viaScan)
  }

  test("incremental add over two batches equals a full rebuild") {
    val all = corpus(0, 400)
    val (p0, s0) = Bm25Index.build(corpus(0, 240), col("doc_id"),
      col("text"), nBuckets)
    val (p1, s1) = Bm25Index.add(p0, s0, corpus(240, 320),
      col("doc_id"), col("text"), nBuckets)
    val (p2, s2) = Bm25Index.add(p1, s1, corpus(320, 400),
      col("doc_id"), col("text"), nBuckets)
    val (pf, sf) = Bm25Index.build(all, col("doc_id"), col("text"), nBuckets)
    // the maintained stats row is exactly the full-corpus one
    assert(s2.collect().toSeq === sf.collect().toSeq)
    val grown = Bm25Index.search(p2, s2, qTerms, 15, nBuckets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val rebuilt = Bm25Index.search(pf, sf, qTerms, 15, nBuckets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(grown.nonEmpty && grown === rebuilt)
  }

  test("delete door: tombstoned search ≡ rebuild on the survivors; " +
      "physical compaction drops the rows and preserves the answer") {
    val all = corpus(0, 400)
    val (p0, s0) = Bm25Index.build(corpus(0, 300), col("doc_id"),
      col("text"), nBuckets)
    val (p1, s1) = Bm25Index.add(p0, s0, corpus(300, 400),
      col("doc_id"), col("text"), nBuckets)
    // delete every 3rd doc — hits both the base and the added batch
    val (tombs, s2) = Bm25Index.delete(s1,
      all.where(col("doc_id") % 3 === 1), col("doc_id"), col("text"))
    val survivors = all.where(col("doc_id") % 3 =!= 1)
    val (pf, sf) = Bm25Index.build(survivors, col("doc_id"), col("text"),
      nBuckets)
    // the O(delta) stats correction lands exactly on the survivors' row
    assert(s2.collect().toSeq === sf.collect().toSeq)
    val live = Bm25Index.applyTombstones(p1, tombs)
    val viaTombs = Bm25Index.search(live, s2, qTerms, 15, nBuckets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaRebuild = Bm25Index.search(pf, sf, qTerms, 15, nBuckets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaTombs.nonEmpty && viaTombs === viaRebuild)
    assert(viaTombs.forall(_._1 % 3 != 1), "a deleted doc surfaced")
    // physical compaction: materialize the filtered postings through the
    // canonical layout, reload — tombstoned rows are GONE from disk and
    // the compacted index serves the identical answer without tombstones
    val dir = java.nio.file.Files.createTempDirectory("bm25del").toString
    Bm25Index.write(live, dir)
    val reloaded = spark.read.parquet(dir)
    assert(reloaded.where(col("doc_id") % 3 === 1).count() === 0L)
    val viaCompacted = Bm25Index.search(reloaded, s2, qTerms, 15, nBuckets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaCompacted === viaRebuild)
  }

  test("search is a lazy plan on a hot path: building it launches zero " +
      "jobs, and reliable-checkpoint mode writes nothing durable per probe") {
    val (p0, s0) = Bm25Index.build(corpus(0, 200), col("doc_id"),
      col("text"), nBuckets)
    val p = p0.localCheckpoint() // the index is already materialized
    val sRow = s0.collect().head
    val s = Seq((sRow.getLong(0), sRow.getLong(1))).toDF("n", "total_len")
    // (1) plan construction must not trigger a Spark job — a serving
    // layer builds many more plans than it executes (explain, caching,
    // admission control) and the per-probe materialization is lazy
    val (probe, built) = SparkActivity.measure(spark)(
      Bm25Index.search(p, s, qTerms, 10, nBuckets))
    assert(built.jobs === 0, "building a search plan must not launch jobs")
    // (2) under spark.graft.reliableCheckpoint=true a probe must stay
    // executor-local: Spark never deletes per-query reliable checkpoint
    // dirs (absent cleanCheckpoints=true), so a high-QPS server would
    // accumulate unbounded durable files — the flag is for build/
    // maintenance frames, not the hot read path
    val ckptDir = java.nio.file.Files
      .createTempDirectory("bm25-probe-ckpt").toString
    spark.sparkContext.setCheckpointDir(ckptDir)
    spark.conf.set("spark.graft.reliableCheckpoint", "true")
    try {
      // a probe BUILT and executed under the flag (the plan above was
      // built before it was set)
      val reliableProbe = Bm25Index.search(p, s, qTerms, 10, nBuckets)
      assert(reliableProbe.collect().nonEmpty)
      assert(probe.collect().nonEmpty)
      val wrote = java.nio.file.Files.walk(
        java.nio.file.Paths.get(ckptDir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote === 0L,
        "a probe wrote durable checkpoint files under reliable mode")
    } finally spark.conf.unset("spark.graft.reliableCheckpoint")
  }

  test("compaction trigger: accumulating deletes past the broadcast " +
      "threshold fires compactNeeded; the post-compaction probe plan " +
      "carries no anti-join and the answer is unchanged") {
    val all = corpus(0, 300)
    val (p0, s0) = Bm25Index.build(all, col("doc_id"), col("text"), nBuckets)
    // comfort line scaled to fixture: 64 B/row × 100 rows
    val threshold = 64L * 100
    var tombs = Seq.empty[Long].toDF("doc_id")
    var stats = s0
    var fired = -1
    // delete ticks of 30 docs each; the trigger must stay quiet while
    // under the line and fire on the tick that crosses it (> 100 ids)
    for (tick <- 0 until 5 if fired < 0) {
      val dels = all.where(col("doc_id") % 5 === tick)
      val (fresh, s1) = Bm25Index.delete(stats, dels, col("doc_id"),
        col("text"), priorTombstones = Some(tombs))
      tombs = tombs.unionByName(fresh)
      stats = s1
      val needed = Dedup.compactNeeded(tombs, thresholdBytes = threshold)
      if ((tick + 1) * 60 <= 100) assert(!needed,
        s"trigger fired early at tick $tick")
      if (needed) fired = tick
    }
    assert(fired >= 0, "trigger never fired as tombstones accumulated")
    // a deployment persists the 1-row stats next to the index; snapshot
    // it here so the probe plan reflects the served table, not the
    // delete ticks' lineage
    val sRow = stats.collect().head
    stats = Seq((sRow.getLong(0), sRow.getLong(1))).toDF("n", "total_len")
    // answer through the tombstone door before compaction
    val live = Bm25Index.applyTombstones(p0, tombs)
    val before = Bm25Index.search(live, stats, qTerms, 15, nBuckets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // the compaction the trigger schedules: canonical rewrite, reload
    val dir = java.nio.file.Files.createTempDirectory("bm25cmp").toString
    Bm25Index.write(live, dir)
    val reloaded = spark.read.parquet(dir)
    val probe = Bm25Index.search(reloaded, stats, qTerms, 15, nBuckets)
    // no anti-join anywhere in the compacted probe's plan
    assert(!probe.queryExecution.optimizedPlan.toString.contains("LeftAnti"),
      "compacted probe still pays the tombstone anti-join")
    assert(probe.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      === before, "compaction changed the answer")
  }

  test("generation-versioned update on a PERSISTED store: the stamped " +
      "append + gen tombstone equals a rebuild on the updated corpus; " +
      "a plain id tombstone would swallow the update") {
    val all = corpus(0, 300)
    val dir = java.nio.file.Files.createTempDirectory("bm25gen").toString
    val (p0, s0) = Bm25Index.build(all, col("doc_id"), col("text"), nBuckets)
    Bm25Index.write(Bm25Index.stampGen(p0, 0), dir)
    // update every 6th doc: same id, version-1 text
    def v1(ids: org.apache.spark.sql.DataFrame) = ids
      .select(col("doc_id"), concat(col("text"),
        lit(" zzupdated zzupdated epsilon")).as("text"))
    val oldU = all.where(col("doc_id") % 6 === 3)
    val (delta, tombs, s1) = Bm25Index.update(s0, oldU, v1(oldU),
      col("doc_id"), col("text"), nBuckets, newGen = 1L)
    Bm25Index.write(delta, dir, mode = "append")
    val store = spark.read.parquet(dir)
    val live = Bm25Index.applyGenTombstones(store, tombs)
    val got = Bm25Index.search(live, s1, qTerms, 15, nBuckets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // rebuild on the updated corpus
    val updatedCorpus = all.where(col("doc_id") % 6 =!= 3)
      .unionByName(v1(oldU))
    val (pf, sf) = Bm25Index.build(updatedCorpus, col("doc_id"),
      col("text"), nBuckets)
    assert(s1.collect().toSeq === sf.collect().toSeq,
      "update stats drifted from the updated corpus")
    val want = Bm25Index.search(pf, sf, qTerms, 15, nBuckets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.nonEmpty && got === want)
    // the fresh generation SURVIVES its own id's tombstone — the very
    // thing a plain id tombstone gets wrong on a persisted store
    assert(live.where(col("doc_id") % 6 === 3).count() > 0,
      "gen tombstone swallowed the update's fresh postings")
    assert(Bm25Index.applyTombstones(store, tombs.select(col("doc_id")))
      .where(col("doc_id") % 6 === 3).count() === 0L,
      "counter-example broke: the plain door should swallow the update")
    // second-generation update of a subset of the same ids
    val oldU2 = v1(all.where(col("doc_id") % 12 === 3))
    def v2(ids: org.apache.spark.sql.DataFrame) = ids
      .select(col("doc_id"), concat(col("text"), lit(" gamma")).as("text"))
    val (delta2, tombs2, s2) = Bm25Index.update(s1, oldU2, v2(oldU2),
      col("doc_id"), col("text"), nBuckets, newGen = 2L)
    Bm25Index.write(delta2, dir, mode = "append")
    val live2 = Bm25Index.applyGenTombstones(spark.read.parquet(dir),
      tombs.unionByName(tombs2))
    val got2 = Bm25Index.search(live2, s2, qTerms, 15, nBuckets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val corpus2 = updatedCorpus.where(col("doc_id") % 12 =!= 3)
      .unionByName(v2(oldU2))
    val (pf2, sf2) = Bm25Index.build(corpus2, col("doc_id"), col("text"),
      nBuckets)
    assert(got2 === Bm25Index.search(pf2, sf2, qTerms, 15, nBuckets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    // compaction retires the dead generations physically
    val cdir = java.nio.file.Files.createTempDirectory("bm25genc").toString
    Bm25Index.write(live2, cdir)
    val reloaded = spark.read.parquet(cdir)
    assert(reloaded.where(col("doc_id") % 6 === 3 && col("gen") === 0)
      .count() === 0L, "compaction kept a retired generation")
    assert(Bm25Index.search(reloaded, s2, qTerms, 15, nBuckets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === got2)
  }

  test("re-delete guard: passing priorTombstones makes a repeated " +
      "delete a stats no-op instead of silently corrupting (n, total_len)") {
    val all = corpus(0, 120)
    val (_, s0) = Bm25Index.build(all, col("doc_id"), col("text"), nBuckets)
    val dels = all.where(col("doc_id") % 4 === 0)
    val (tombs, s1) = Bm25Index.delete(s0, dels, col("doc_id"), col("text"))
    // an overlapping second batch: half re-deletes, half genuinely new
    val batch2 = all.where(col("doc_id") % 4 === 0 || col("doc_id") % 4 === 1)
    val (fresh2, s2) = Bm25Index.delete(s1, batch2, col("doc_id"),
      col("text"), priorTombstones = Some(tombs))
    // the returned tombstones carry ONLY the genuinely-new ids
    assert(fresh2.collect().map(_.getLong(0)).forall(_ % 4 == 1))
    // stats land exactly on the survivors — the unguarded path would
    // have double-subtracted the %4==0 docs
    val survivors = all.where(col("doc_id") % 4 >= 2)
    val (_, sf) = Bm25Index.build(survivors, col("doc_id"), col("text"),
      nBuckets)
    assert(s2.collect().toSeq === sf.collect().toSeq)
    // and WITHOUT the guard the same overlapping batch corrupts n
    val (_, bad) = Bm25Index.delete(s1, batch2, col("doc_id"), col("text"))
    assert(bad.collect().head.getLong(0) < sf.collect().head.getLong(0))
  }

  test("gen-aware guard: deleting a previously-UPDATED doc through the " +
      "unified tombstone table corrects stats and retires all " +
      "generations; only a MaxValue tombstone suppresses a re-send") {
    val all = corpus(0, 200)
    val (p0, s0) = Bm25Index.build(all, col("doc_id"), col("text"), nBuckets)
    def v1(ids: org.apache.spark.sql.DataFrame) = ids
      .select(col("doc_id"), concat(col("text"),
        lit(" zzupdated zeta")).as("text"))
    // tick 1: update every 5th doc (gen 1; unified table gains
    // (id, upto_gen=0) rows) and fully delete every 7th (MaxValue)
    val oldU = all.where(col("doc_id") % 5 === 2 && col("doc_id") % 7 =!= 3)
    val (delta, tombsU, s1) = Bm25Index.update(s0, oldU, v1(oldU),
      col("doc_id"), col("text"), nBuckets, newGen = 1L)
    val dels1 = all.where(col("doc_id") % 7 === 3 && col("doc_id") % 5 =!= 2)
    val (freshD1, s2) = Bm25Index.delete(s1, dels1, col("doc_id"),
      col("text"))
    var tombs = tombsU.unionByName(
      Bm25Index.genTombstones(freshD1, col("doc_id"), Long.MaxValue))
    val store = Bm25Index.stampGen(p0, 0L).unionByName(delta)
    // tick 2 delete batch: ids already UPDATED in tick 1 (the guard
    // must let them through — their gen-1 rows are live), one RE-SENT
    // fully-deleted id (must be suppressed), and fresh ids. The
    // round-12 guard filtered on doc_id alone and silently dropped the
    // previously-updated class: no stats correction, gen-1 rows kept
    // serving a deleted doc.
    val delUpdated = v1(oldU.where(col("doc_id") % 10 === 2)) // current=v1
    val resent = dels1.limit(1)
    val freshDel = all.where(col("doc_id") % 11 === 4 &&
      col("doc_id") % 5 =!= 2 && col("doc_id") % 7 =!= 3)
    val batch2 = delUpdated.unionByName(resent).unionByName(freshDel)
    val (freshD2, s3) = Bm25Index.delete(s2, batch2, col("doc_id"),
      col("text"), priorTombstones = Some(tombs))
    // the suppressed re-send is NOT in the fresh set; the updated ids ARE
    val freshIds = freshD2.collect().map(_.getLong(0)).toSet
    assert(!freshIds.contains(resent.collect().head.getLong(0)),
      "re-sent full delete escaped the guard")
    val updDelIds = delUpdated.collect().map(_.getLong(0)).toSet
    assert(updDelIds.subsetOf(freshIds),
      "guard swallowed the delete of a previously-updated doc")
    tombs = tombs.unionByName(
      Bm25Index.genTombstones(freshD2, col("doc_id"), Long.MaxValue))
    // end state ≡ rebuild on the survivors (current versions)
    val updatedP = col("doc_id") % 5 === 2 && col("doc_id") % 7 =!= 3
    val deleted1P = col("doc_id") % 7 === 3 && col("doc_id") % 5 =!= 2
    val deleted2P = (updatedP && col("doc_id") % 10 === 2) ||
      (col("doc_id") % 11 === 4 && col("doc_id") % 5 =!= 2 &&
        col("doc_id") % 7 =!= 3)
    val survivors = all.where(!deleted1P && !deleted2P)
      .select(col("doc_id"),
        when(updatedP, concat(col("text"), lit(" zzupdated zeta")))
          .otherwise(col("text")).as("text"))
    val (pf, sf) = Bm25Index.build(survivors, col("doc_id"), col("text"),
      nBuckets)
    assert(s3.collect().toSeq === sf.collect().toSeq,
      "stats drifted after delete-of-updated through the unified table")
    val live = Bm25Index.applyGenTombstones(store, tombs)
    // ALL generations of the deleted-after-update ids are retired
    assert(live.where(col("doc_id").isin(updDelIds.toSeq: _*)).count()
      === 0L, "a generation of a deleted doc kept serving")
    val got = Bm25Index.search(live, s3, qTerms, 15, nBuckets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = Bm25Index.search(pf, sf, qTerms, 15, nBuckets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.nonEmpty && got === want)
  }

  test("update retry guard: re-sending an applied update batch with the " +
      "unified table drops it whole — no stats drift, no duplicate " +
      "generation postings") {
    val all = corpus(0, 150)
    val (p0, s0) = Bm25Index.build(all, col("doc_id"), col("text"), nBuckets)
    def v1(ids: org.apache.spark.sql.DataFrame) = ids
      .select(col("doc_id"), concat(col("text"), lit(" gamma")).as("text"))
    val oldU = all.where(col("doc_id") % 4 === 1)
    val (delta, tombs, s1) = Bm25Index.update(s0, oldU, v1(oldU),
      col("doc_id"), col("text"), nBuckets, newGen = 1L,
      priorTombstones =
        Some(Seq.empty[(Long, Long)].toDF("doc_id", "upto_gen")))
    val store = Bm25Index.stampGen(p0, 0L).unionByName(delta)
    // the RETRY: same batch, same newGen, now guarded by the table that
    // already carries this update's (id, 0) tombstones
    val (delta2, tombs2, s2) = Bm25Index.update(s1, oldU, v1(oldU),
      col("doc_id"), col("text"), nBuckets, newGen = 1L,
      priorTombstones = Some(tombs))
    assert(delta2.count() === 0L, "retry appended duplicate postings")
    assert(tombs2.count() === 0L, "retry emitted duplicate tombstones")
    assert(s2.collect().toSeq === s1.collect().toSeq,
      "retry drifted the stats")
    // a retry AFTER a full delete of some of the ids is also suppressed
    val deleted = v1(oldU.where(col("doc_id") % 8 === 1))
    val (freshD, s3) = Bm25Index.delete(s2, deleted, col("doc_id"),
      col("text"))
    val allTombs = tombs.unionByName(
      Bm25Index.genTombstones(freshD, col("doc_id"), Long.MaxValue))
    val (delta3, tombs3, s4) = Bm25Index.update(s3, oldU, v1(oldU),
      col("doc_id"), col("text"), nBuckets, newGen = 1L,
      priorTombstones = Some(allTombs))
    assert(delta3.count() === 0L && tombs3.count() === 0L)
    assert(s4.collect().toSeq === s3.collect().toSeq)
    // sanity: the end state still equals the rebuild
    val survivors = all.where(col("doc_id") % 4 =!= 1)
      .unionByName(v1(oldU)).where(col("doc_id") % 8 =!= 1 ||
        col("doc_id") % 4 =!= 1)
    val (pf, sf) = Bm25Index.build(survivors, col("doc_id"), col("text"),
      nBuckets)
    assert(s4.collect().toSeq === sf.collect().toSeq)
    val got = Bm25Index.search(
      Bm25Index.applyGenTombstones(store, allTombs), s4, qTerms, 15,
      nBuckets).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.nonEmpty && got === Bm25Index.search(pf, sf, qTerms, 15,
      nBuckets).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("randomized delete fuzz: tombstoned search ≡ rebuild across " +
      "seeded corpus sizes, delete sets, and query terms") {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta")
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val n = 150 + rnd.nextInt(150)
      val delMod = 2 + rnd.nextInt(5)
      val terms = rnd.shuffle(vocab).take(1 + rnd.nextInt(3))
      val docs = corpus(0, n)
      val (p0, s0) = Bm25Index.build(docs, col("doc_id"), col("text"),
        nBuckets)
      val (tombs, s1) = Bm25Index.delete(s0,
        docs.where(col("doc_id") % delMod === 0), col("doc_id"), col("text"))
      val survivors = docs.where(col("doc_id") % delMod =!= 0)
      val (pf, sf) = Bm25Index.build(survivors, col("doc_id"), col("text"),
        nBuckets)
      val got = Bm25Index.search(Bm25Index.applyTombstones(p0, tombs),
          s1, terms, 10, nBuckets)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val want = Bm25Index.search(pf, sf, terms, 10, nBuckets)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got === want,
        s"seed=$seed n=$n delMod=$delMod terms=$terms")
      assert(got.nonEmpty && got.forall(_._1 % delMod != 0),
        s"seed=$seed: a deleted doc surfaced or empty result")
    }
  }

  test("randomized generation-door fuzz: interleaved updates + deletes " +
      "through one tombstone table ≡ rebuild on the updated survivors") {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta")
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val n = 150 + rnd.nextInt(150)
      val updMod = 3 + rnd.nextInt(4)
      val delMod = 3 + rnd.nextInt(4) // may overlap updMod: delete wins
      val terms = rnd.shuffle(vocab).take(1 + rnd.nextInt(3))
      val suffix = " " + rnd.shuffle(vocab).take(2).mkString(" ")
      val docs = corpus(0, n)
      def v1(ids: org.apache.spark.sql.DataFrame) = ids
        .select(col("doc_id"), concat(col("text"), lit(suffix)).as("text"))
      val (p0, s0) = Bm25Index.build(docs, col("doc_id"), col("text"),
        nBuckets)
      // update pass: every updMod-th doc gets version-1 text under gen 1
      val oldU = docs.where(col("doc_id") % updMod === 1)
      val (delta, tombsU, s1) = Bm25Index.update(s0, oldU, v1(oldU),
        col("doc_id"), col("text"), nBuckets, newGen = 1L)
      // delete pass AFTER the update: every delMod-th doc leaves — its
      // CURRENT version (v1 if it was just updated) funds the stats
      val cur = docs.where(col("doc_id") % updMod =!= 1)
        .unionByName(v1(oldU))
      val dels = cur.where(col("doc_id") % delMod === 2)
      val (freshD, s2) = Bm25Index.delete(s1, dels, col("doc_id"),
        col("text"))
      val tombs = tombsU.unionByName(Bm25Index.genTombstones(
        freshD, col("doc_id"), Long.MaxValue))
      val store = Bm25Index.stampGen(p0, 0L).unionByName(delta)
      val got = Bm25Index.search(
        Bm25Index.applyGenTombstones(store, tombs), s2, terms, 10,
        nBuckets).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      // rebuild on the updated survivors
      val fcorpus = cur.where(col("doc_id") % delMod =!= 2)
      val (pf, sf) = Bm25Index.build(fcorpus, col("doc_id"), col("text"),
        nBuckets)
      assert(s2.collect().toSeq === sf.collect().toSeq,
        s"seed=$seed: stats drifted (n=$n updMod=$updMod delMod=$delMod)")
      val want = Bm25Index.search(pf, sf, terms, 10, nBuckets)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got === want && got.nonEmpty,
        s"seed=$seed n=$n updMod=$updMod delMod=$delMod terms=$terms")
      assert(got.forall(_._1 % delMod != 2),
        s"seed=$seed: a deleted doc surfaced")
    }
  }

  test("update = delete + add: re-indexing changed documents equals a " +
      "rebuild on the updated corpus") {
    val before = corpus(0, 300)
    val changed = corpus(300, 600) // new texts, reusing ids 0..99
      .where(col("doc_id") < 400).withColumn("doc_id", col("doc_id") - 300L)
    val (p0, s0) = Bm25Index.build(before, col("doc_id"), col("text"),
      nBuckets)
    // update docs 0..99: tombstone their OLD versions, add the new ones
    val oldVersions = before.where(col("doc_id") < 100)
    val (tombs, s1) = Bm25Index.delete(s0, oldVersions, col("doc_id"),
      col("text"))
    val (p2, s2) = Bm25Index.add(Bm25Index.applyTombstones(p0, tombs),
      s1, changed, col("doc_id"), col("text"), nBuckets)
    val updatedCorpus = before.where(col("doc_id") >= 100)
      .unionByName(changed)
    val (pf, sf) = Bm25Index.build(updatedCorpus, col("doc_id"),
      col("text"), nBuckets)
    assert(s2.collect().toSeq === sf.collect().toSeq)
    val viaUpdate = Bm25Index.search(p2, s2, qTerms, 15, nBuckets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaRebuild = Bm25Index.search(pf, sf, qTerms, 15, nBuckets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaUpdate.nonEmpty && viaUpdate === viaRebuild)
  }

  test("persisted index: search reads only the query terms' bucket " +
      "partitions (constant-folded partition filter)") {
    val docs = corpus(0, 600)
    val (postings, stats) =
      Bm25Index.build(docs, col("doc_id"), col("text"), nBuckets)
    val dir = java.nio.file.Files.createTempDirectory("bm25idx").toString
    Bm25Index.write(postings, dir)
    val reloaded = spark.read.parquet(dir)

    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    // AQE hides scans inside materialized query stages — descend
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case o => o.children.flatMap(scans)
    }
    def scanStats(q: org.apache.spark.sql.DataFrame): (Long, Long) = {
      q.collect()
      val scan = scans(q.queryExecution.executedPlan).head
      (scan.metrics("numFiles").value, scan.metrics("numOutputRows").value)
    }
    val (allFiles, allRows) = scanStats(reloaded.select(col("term")))
    // search() materializes the pruned postings through an eager
    // checkpoint (one storage read shared by the df aggregate and the
    // probe), so the index scan no longer sits in the FINAL plan —
    // capture it from the checkpoint's own execution via the
    // QueryExecutionListener (Dataset.checkpoint runs under withAction)
    val captured = new java.util.concurrent.CopyOnWriteArrayList[SparkPlan]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = { captured.add(qe.executedPlan); () }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    val marker = new java.io.File(dir).getName
    def indexScan(): Option[FileSourceScanExec] = {
      import scala.jdk.CollectionConverters._
      captured.asScala.flatMap(scans).find(
        _.relation.location.rootPaths.exists(_.toString.contains(marker)))
    }
    spark.listenerManager.register(ql)
    val (pruned, prunedRows, viaIdx) = try {
      val searched = Bm25Index.search(reloaded, stats, qTerms, 10, nBuckets)
      val got = searched.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val deadline = System.currentTimeMillis() + 20000
      while (indexScan().isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val scan = indexScan().getOrElse(
        fail("the checkpoint's index scan never reached the listener"))
      (scan.metrics("numFiles").value, scan.metrics("numOutputRows").value,
        got)
    } finally spark.listenerManager.unregister(ql)
    // 7-term vocab over 64 buckets (modulo hash collisions): a 3-term
    // query touches at most 3 bucket directories, and the bucket
    // predicate must fold to literals (a non-folded predicate reads
    // every partition)
    assert(allFiles >= 5, s"fixture too small: $allFiles files")
    assert(pruned <= 3 && pruned < allFiles,
      s"partition pruning failed: read $pruned of $allFiles files")
    assert(prunedRows < allRows,
      s"row pushdown failed: $prunedRows of $allRows rows")
    // and the pruned search still returns the exact scan-path answer
    val viaScan = TextAnalysis
      .bm25TopK(docs, col("doc_id"), col("text"), qTerms, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaIdx === viaScan)
  }

  test("persisted index: a BATCH of queries reads each touched bucket " +
      "once — the union bucket predicate still partition-prunes") {
    val docs = corpus(0, 600)
    val (postings, stats) =
      Bm25Index.build(docs, col("doc_id"), col("text"), nBuckets)
    val dir = java.nio.file.Files.createTempDirectory("bm25batch").toString
    Bm25Index.write(postings, dir)
    val reloaded = spark.read.parquet(dir)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case o => o.children.flatMap(scans)
    }
    val captured = new java.util.concurrent.CopyOnWriteArrayList[SparkPlan]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = { captured.add(qe.executedPlan); () }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    val marker = new java.io.File(dir).getName
    def indexScan(): Option[FileSourceScanExec] = {
      import scala.jdk.CollectionConverters._
      captured.asScala.flatMap(scans).find(
        _.relation.location.rootPaths.exists(_.toString.contains(marker)))
    }
    // 2 queries × 2 terms = 4 distinct terms → ≤ 4 bucket dirs for the
    // WHOLE batch (the amortization claim: not 4 per query)
    val batch = Seq(1L -> Seq("alpha", "gamma"), 2L -> Seq("zeta", "eta"))
    spark.listenerManager.register(ql)
    val (pruned, batchedRows) = try {
      val out = Bm25Index.searchBatch(reloaded, stats, batch, 10,
        nBuckets)
      val got = out.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      val deadline = System.currentTimeMillis() + 20000
      while (indexScan().isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val scan = indexScan().getOrElse(
        fail("the batch probe's index scan never reached the listener"))
      (scan.metrics("numFiles").value, got)
    } finally spark.listenerManager.unregister(ql)
    assert(pruned <= 4,
      s"batched partition pruning failed: read $pruned files")
    // per-query answers are exactly the single-query searches
    for ((qid, terms) <- batch) {
      val alone = Bm25Index.search(reloaded, stats, terms, 10, nBuckets)
        .collect().zipWithIndex.map { case (r, i) =>
          (qid, r.getLong(0), r.getLong(1), i + 1L) }.toSeq
      assert(batchedRows.filter(_._1 == qid).sortBy(_._4) === alone)
    }
    // the FILTERED batch probe keeps the same union-bucket pruning:
    // the mask semi-join must not widen the scan past the batch's ≤ 4
    // term buckets (the r15 single-query claim, now on the batch tier)
    captured.clear()
    spark.listenerManager.register(ql)
    val prunedFiltered = try {
      val allowed = docs.where(col("doc_id") % 3 === 0).select("doc_id")
      Bm25Index.searchBatchFiltered(reloaded, stats, batch, 10,
        nBuckets, allowed).collect()
      val deadline = System.currentTimeMillis() + 20000
      while (indexScan().isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      indexScan().getOrElse(fail(
        "the filtered batch probe's index scan never reached the " +
          "listener")).metrics("numFiles").value
    } finally spark.listenerManager.unregister(ql)
    assert(prunedFiltered <= 4,
      s"filtered batched partition pruning failed: read " +
        s"$prunedFiltered files — the mask defeated the bucket " +
        "predicate")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("persisted index: FILTERED search still reads only the query " +
      "terms' bucket partitions — the candidate mask sits above the " +
      "pruned scan and never widens it") {
    val docs = corpus(0, 600)
    val (postings, stats) =
      Bm25Index.build(docs, col("doc_id"), col("text"), nBuckets)
    val dir = java.nio.file.Files.createTempDirectory("bm25filt").toString
    Bm25Index.write(postings, dir)
    val reloaded = spark.read.parquet(dir)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case o => o.children.flatMap(scans)
    }
    val captured = new java.util.concurrent.CopyOnWriteArrayList[SparkPlan]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = { captured.add(qe.executedPlan); () }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    val marker = new java.io.File(dir).getName
    def indexScan(): Option[FileSourceScanExec] = {
      import scala.jdk.CollectionConverters._
      captured.asScala.flatMap(scans).find(
        _.relation.location.rootPaths.exists(_.toString.contains(marker)))
    }
    val allowed = docs.where(col("doc_id") % 3 === 0).select("doc_id")
    spark.listenerManager.register(ql)
    val (pruned, got) = try {
      val out = Bm25Index.searchFiltered(reloaded, stats, qTerms, 10,
        nBuckets, allowed)
      val rows = out.collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSeq
      val deadline = System.currentTimeMillis() + 20000
      while (indexScan().isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val scan = indexScan().getOrElse(
        fail("the filtered probe's index scan never reached the listener"))
      (scan.metrics("numFiles").value, rows)
    } finally spark.listenerManager.unregister(ql)
    assert(pruned <= 3,
      s"filtered partition pruning failed: read $pruned files — the " +
        "semi-join defeated the constant-folded bucket predicate")
    // rank-then-slice reference on the scan path: global scores,
    // allowed pool, top-10
    val ref = TextAnalysis
      .bm25TopK(docs, col("doc_id"), col("text"), qTerms, 600)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(_._1 % 3 == 0).take(10).toSeq
    assert(got === ref)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
