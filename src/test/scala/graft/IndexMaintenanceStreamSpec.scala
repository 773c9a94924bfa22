package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Bm25Index, Maintenance, VectorLeg}
import graft.streaming.IndexMaintenanceStream

/** The streaming mutation tailer ([[streaming.IndexMaintenanceStream]])
  * must apply exactly the batch lifecycle per micro-batch: end state ≡
  * a fresh rebuild on the mutated corpus, replays are no-ops, an
  * in-flight batch is invisible to the serving view, and a mid-stream
  * compaction swaps the base without changing the answer.
  */
class IndexMaintenanceStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val nBuckets = 32
  private val qTerms = Seq("alpha", "gamma", "epsilon")
  private val vocab = Vector("alpha", "beta", "gamma", "delta",
    "epsilon", "zeta", "eta")

  private def text(id: Long, ver: Int): String =
    (0 to (id % 9).toInt + 2).map { j =>
      vocab(((id * 2654435761L + ver * 99991L + j * 40503L)
        % vocab.size).toInt.abs)
    }.mkString(" ")

  private def docs(ids: Seq[(Long, Int)]): DataFrame =
    ids.map { case (id, v) => (id, text(id, v)) }.toDF("doc_id", "text")

  /** mutation rows: (op, doc_id, text, old_text) */
  private def muts(rows: Seq[(String, Long, Int, Option[Int])]): DataFrame =
    rows.map { case (op, id, v, oldV) =>
      (op, id, text(id, v), oldV.map(text(id, _)).orNull)
    }.toDF("op", "doc_id", "text", "old_text")

  private def topk(p: DataFrame, s: DataFrame) =
    Bm25Index.search(p, s, qTerms, 15, nBuckets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  private val oldVersion: DataFrame => DataFrame =
    u => u.select(col("doc_id"), col("old_text").as("text"))

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case a: Seq[_] => a.toVector
      case x => x
    }).toSeq.sortBy(_.mkString("|"))

  test("applyBatch per mutation batch ≡ rebuild; replay is a no-op; " +
      "mid-stream compaction swaps the base and keeps the answer") {
    val dir = java.nio.file.Files.createTempDirectory("imstream").toString
    val door = new Maintenance.Bm25Door(col("text"), nBuckets)
    val live = scala.collection.mutable.LinkedHashMap[Long, Int](
      (0L until 90L).map(_ -> 0): _*)
    IndexMaintenanceStream.bootstrap(spark, door, dir, Bm25Index.write,
      docs(live.toSeq))

    // batch 0: adds + deletes + updates; tiny threshold → compaction
    // fires INSIDE the tick (base swaps to base_b0, deltas swept)
    val b0 = muts(
      (90L until 96L).map(id => ("add", id, 0, None)) ++
        (0L until 6L).map(id => ("delete", id, 0, None)) ++
        (10L until 16L).map(id => ("update", id, 1, Some(0))))
    IndexMaintenanceStream.applyBatch(spark, door, dir, Bm25Index.write,
      b0, 0L, Some(oldVersion), compactThresholdBytes = 64L * 4)
    (0L until 6L).foreach(live.remove)
    (10L until 16L).foreach(live(_) = 1)
    (90L until 96L).foreach(live(_) = 0)
    assert(graft.streaming.DocsStream.readPointer(spark, s"$dir/store")
      .contains("base_b0"), "compaction never swapped the base")
    assert(new java.io.File(s"$dir/store/base_boot").exists(),
      "reader grace violated: the folded boot base must survive ONE " +
        "compaction for in-flight readers")

    // batch 1: delete a PREVIOUSLY-UPDATED doc through the unified
    // table, re-send a batch-0 delete... but batch 0's compaction
    // retired the tombstone history, so the re-send would corrupt —
    // send only live mutations (the operator contract after a
    // compaction); delete-after-update is the round-12 trap
    val b1 = muts(
      Seq(("delete", 10L, 1, None), ("delete", 11L, 1, None)) ++
        Seq(("add", 96L, 0, None)))
    IndexMaintenanceStream.applyBatch(spark, door, dir, Bm25Index.write,
      b1, 1L, Some(oldVersion))
    live.remove(10L); live.remove(11L); live(96L) = 0

    // REPLAY batch 1 (foreachBatch's at-least-once): must skip whole
    IndexMaintenanceStream.applyBatch(spark, door, dir, Bm25Index.write,
      b1, 1L, Some(oldVersion))

    // batch 2: re-sent delete of a batch-1 delete (tombstones LIVE now,
    // guard must drop it) + an update
    val b2 = muts(
      Seq(("delete", 10L, 1, None)) ++ // re-send: id 10 already dead
        Seq(("update", 20L, 1, Some(0))))
    IndexMaintenanceStream.applyBatch(spark, door, dir, Bm25Index.write,
      b2, 2L, Some(oldVersion))
    live(20L) = 1

    val (liveRows, stats) =
      IndexMaintenanceStream.currentView(spark, door, dir)
    val (pf, sf) = Bm25Index.build(docs(live.toSeq), col("doc_id"),
      col("text"), nBuckets)
    assert(stats.get.collect().toSeq === sf.collect().toSeq,
      "streamed stats drifted from the rebuild (re-send corrupted?)")
    assert(topk(liveRows, stats.get) === topk(pf, sf))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("an in-flight batch (delta written, state not swapped) is " +
      "invisible to the serving view and a replay completes it") {
    val dir = java.nio.file.Files.createTempDirectory("iminflight").toString
    val door = new Maintenance.Bm25Door(col("text"), nBuckets)
    IndexMaintenanceStream.bootstrap(spark, door, dir, Bm25Index.write,
      docs((0L until 40L).map(_ -> 0)))
    // simulate the crash window: the batch's DELTA lands but the state
    // swap never does — write a delta dir by hand
    Bm25Index.write(Bm25Index.stampGen(Bm25Index.build(
      docs(Seq(100L -> 0)), col("doc_id"), col("text"), nBuckets)._1, 1L),
      s"$dir/store/delta_b0", "overwrite")
    val (view0, stats0) =
      IndexMaintenanceStream.currentView(spark, door, dir)
    assert(view0.where(col("doc_id") === 100L).count() === 0L,
      "uncommitted delta leaked into the serving view")
    assert(stats0.get.collect().head.getLong(0) === 40L)
    // the replay completes the batch; now it serves
    IndexMaintenanceStream.applyBatch(spark, door, dir, Bm25Index.write,
      muts(Seq(("add", 100L, 0, None))), 0L, Some(oldVersion))
    val (view1, stats1) =
      IndexMaintenanceStream.currentView(spark, door, dir)
    assert(view1.where(col("doc_id") === 100L).count() > 0L)
    assert(stats1.get.collect().head.getLong(0) === 41L)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("IVF door through the tailer: mutation batches against the " +
      "cell-partitioned versioned store end equal to a fresh " +
      "assignment; the pruned probe serves the committed view") {
    import graft.pipeline.Similarity
    val dir = java.nio.file.Files.createTempDirectory("imivf").toString
    def vecs(ids: Seq[(Long, Int)]): DataFrame =
      ids.map { case (id, v) => (id,
        Array.tabulate(6)(d => ((id * 31 + v * 7 + d * 13) % 100) / 50.0f - 1f))
      }.toDF("vec_id", "embedding")
    def vmuts(rows: Seq[(String, Long, Int)]): DataFrame =
      rows.map { case (op, id, v) => (op, id,
        Array.tabulate(6)(d => ((id * 31 + v * 7 + d * 13) % 100) / 50.0f - 1f))
      }.toDF("op", "vec_id", "embedding")
    val live = scala.collection.mutable.LinkedHashMap[Long, Int](
      (0L until 50L).map(_ -> 0): _*)
    val cents = Similarity.centroids(vecs(live.toSeq), 8)
    val door = new Maintenance.IvfDoor(cents)
    def ivfWrite(df: DataFrame, d: String, mode: String): Unit =
      df.write.partitionBy("cell").mode(mode).parquet(d)
    IndexMaintenanceStream.bootstrap(spark, door, dir, ivfWrite,
      vecs(live.toSeq))
    IndexMaintenanceStream.applyBatch(spark, door, dir, ivfWrite,
      vmuts((50L until 55L).map(id => ("add", id, 0)) ++
        (0L until 4L).map(id => ("delete", id, 0)) ++
        (10L until 14L).map(id => ("update", id, 1))), 0L)
    IndexMaintenanceStream.applyBatch(spark, door, dir, ivfWrite,
      vmuts(Seq(("delete", 10L, 1), ("delete", 11L, 1))), 1L)
    (0L until 4L).foreach(live.remove)
    (10L until 14L).foreach(live(_) = 1)
    (50L until 55L).foreach(live(_) = 0)
    live.remove(10L); live.remove(11L)
    val (view, stats) = IndexMaintenanceStream.currentView(spark, door, dir)
    assert(stats.isEmpty)
    val rebuilt = Similarity.ivfAssign(vecs(live.toSeq), cents)
    assert(sortedRows(view.select(col("cell"), col("nid")))
      === sortedRows(rebuilt.select(col("cell"), col("nid"))))
    val q = vecs(live.toSeq.take(3))
    assert(VectorLeg.Ivf(view, cents, nprobe = 3).batch(q, 5)
      .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
      === Similarity.ivfTopKIndexed(q, rebuilt, cents, 5, nprobe = 3)
        .orderBy("qid", "rank").collect().map(_.toSeq).toSeq)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("a stats-keeping door refuses update batches without the " +
      "superseded versions (the silent-drift alternative)") {
    val dir = java.nio.file.Files.createTempDirectory("imneg").toString
    val door = new Maintenance.Bm25Door(col("text"), nBuckets)
    IndexMaintenanceStream.bootstrap(spark, door, dir, Bm25Index.write,
      docs((0L until 20L).map(_ -> 0)))
    assertThrows[IllegalArgumentException] {
      IndexMaintenanceStream.applyBatch(spark, door, dir,
        Bm25Index.write, muts(Seq(("update", 3L, 1, Some(0)))), 0L,
        oldVersion = None)
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("file-source mutation stream end-to-end: three micro-batches " +
      "tail into the store and the final view equals the rebuild") {
    val tmp = java.nio.file.Files.createTempDirectory("imfeed").toString
    val out = java.nio.file.Files.createTempDirectory("imout").toString
    val door = new Maintenance.Bm25Door(col("text"), nBuckets)
    val live = scala.collection.mutable.LinkedHashMap[Long, Int](
      (0L until 60L).map(_ -> 0): _*)
    IndexMaintenanceStream.bootstrap(spark, door, out, Bm25Index.write,
      docs(live.toSeq))
    def writeFeed(name: String,
                  rows: Seq[(String, Long, Int, Option[Int])]): Unit = {
      val staging = tmp + "/stage_" + name
      muts(rows).coalesce(1).write.parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(tmp, name + ".parquet"))
    }
    writeFeed("m1", (60L until 66L).map(id => ("add", id, 0, None)) ++
      (0L until 4L).map(id => ("delete", id, 0, None)))
    writeFeed("m2", (10L until 14L).map(id => ("update", id, 1, Some(0))))
    val feed = spark.readStream
      .schema("op string, doc_id bigint, text string, old_text string")
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "m*.parquet")
      .parquet(tmp)
    val q = IndexMaintenanceStream.mutationStream(feed, door, out,
      Bm25Index.write, s"$out/ckpt", Some(oldVersion))
    q.processAllAvailable()
    // third batch arrives while the query runs: delete-after-update
    writeFeed("m3", Seq(("delete", 10L, 1, None), ("delete", 11L, 1, None)))
    q.processAllAvailable(); q.stop()
    (0L until 4L).foreach(live.remove)
    (10L until 14L).foreach(live(_) = 1)
    (60L until 66L).foreach(live(_) = 0)
    live.remove(10L); live.remove(11L)
    val (liveRows, stats) =
      IndexMaintenanceStream.currentView(spark, door, out)
    val (pf, sf) = Bm25Index.build(docs(live.toSeq), col("doc_id"),
      col("text"), nBuckets)
    assert(stats.get.collect().toSeq === sf.collect().toSeq)
    assert(topk(liveRows, stats.get) === topk(pf, sf))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("a STAGED mid-tick compaction is invisible until the state " +
      "pointer commits: the crash window serves the pre-batch view, " +
      "and the replay completes the batch") {
    val dir = java.nio.file.Files.createTempDirectory("imstage").toString
    val door = new Maintenance.Bm25Door(col("text"), nBuckets)
    IndexMaintenanceStream.bootstrap(spark, door, dir, Bm25Index.write,
      docs((0L until 50L).map(_ -> 0)))
    // run the tick exactly as applyBatch would — the tiny threshold
    // fires a compaction, which STAGES base_b0 — then 'crash' before
    // the state commit (never save/swap the state)
    val st = Maintenance.loadState(spark, s"$dir/state/v_boot")
    val store = new IndexMaintenanceStream.VersionedStore(spark,
      s"$dir/store", Bm25Index.write, 0L)
    val empty = docs(Nil)
    Maintenance.tick(door, store, st, adds = empty,
      deletes = docs((0L until 5L).map(_ -> 0)), updates = empty,
      updatesOld = Some(empty), compactThresholdBytes = 1L)
    assert(new java.io.File(s"$dir/store/base_b0").exists(),
      "compaction never staged the batch base")
    assert(graft.streaming.DocsStream.readPointer(spark, s"$dir/store")
      .contains("base_boot"),
      "store pointer swapped before the state commit — the round-13 " +
        "crash window")
    // committed view = pre-batch: the staged base (named > the
    // committed batch) must not pair with the pre-batch stats
    val (view0, stats0) =
      IndexMaintenanceStream.currentView(spark, door, dir)
    assert(stats0.get.collect().head.getLong(0) === 50L)
    assert(view0.where(col("doc_id") === 0L).count() > 0L,
      "the uncommitted compaction leaked into the serving view")
    // the replay re-runs the whole batch and commits both pointers
    IndexMaintenanceStream.applyBatch(spark, door, dir, Bm25Index.write,
      muts((0L until 5L).map(id => ("delete", id, 0, None))), 0L,
      Some(oldVersion), compactThresholdBytes = 1L)
    assert(graft.streaming.DocsStream.readPointer(spark, s"$dir/store")
      .contains("base_b0"))
    assert(new java.io.File(s"$dir/store/base_boot").exists(),
      "reader grace violated: finalize must retain the folded boot " +
        "base one compaction for in-flight readers")
    val (view1, stats1) =
      IndexMaintenanceStream.currentView(spark, door, dir)
    assert(stats1.get.collect().head.getLong(0) === 45L)
    assert(view1.where(col("doc_id") < 5L).count() === 0L)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("a crash BETWEEN the state commit and the deferred store " +
      "housekeeping still serves the committed compaction (listing " +
      "resolution beats the stale pointer) and the replay skip heals") {
    val dir = java.nio.file.Files.createTempDirectory("imdefer").toString
    val door = new Maintenance.Bm25Door(col("text"), nBuckets)
    IndexMaintenanceStream.bootstrap(spark, door, dir, Bm25Index.write,
      docs((0L until 50L).map(_ -> 0)))
    // tick + state commit by hand; 'crash' before finalizeCommit —
    // also leave a stale .tmp staging behind, the NumberFormat trap
    val st = Maintenance.loadState(spark, s"$dir/state/v_boot")
    val store = new IndexMaintenanceStream.VersionedStore(spark,
      s"$dir/store", Bm25Index.write, 0L)
    val empty = docs(Nil)
    val st2 = Maintenance.tick(door, store, st, adds = empty,
      deletes = docs((0L until 5L).map(_ -> 0)), updates = empty,
      updatesOld = Some(empty), compactThresholdBytes = 1L)
    Maintenance.saveState(st2, s"$dir/state/v_b0")
    graft.streaming.DocsStream.swapPointer(spark, s"$dir/state", "v_b0")
    val staleTmp = new java.io.File(s"$dir/store/base_b9.tmp")
    assert(staleTmp.mkdirs())
    // the commit landed: the view must serve base_b0 + empty
    // tombstones even though the store pointer still says base_boot
    assert(graft.streaming.DocsStream.readPointer(spark, s"$dir/store")
      .contains("base_boot"))
    val (view0, stats0) =
      IndexMaintenanceStream.currentView(spark, door, dir)
    assert(stats0.get.collect().head.getLong(0) === 45L)
    assert(view0.where(col("doc_id") < 5L).count() === 0L,
      "committed compaction not served through listing resolution")
    // the replay detects the committed state, SKIPS the tick, and
    // finishes the housekeeping: pointer advance + sweep (.tmp too)
    IndexMaintenanceStream.applyBatch(spark, door, dir, Bm25Index.write,
      muts((0L until 5L).map(id => ("delete", id, 0, None))), 0L,
      Some(oldVersion), compactThresholdBytes = 1L)
    assert(graft.streaming.DocsStream.readPointer(spark, s"$dir/store")
      .contains("base_b0"))
    assert(new java.io.File(s"$dir/store/base_boot").exists(),
      "reader grace violated: the folded boot base must survive the " +
        "deferred sweep")
    assert(!staleTmp.exists(), "stale .tmp staging survived the sweep")
    val (view1, stats1) =
      IndexMaintenanceStream.currentView(spark, door, dir)
    assert(stats1.get.collect().head.getLong(0) === 45L)
    assert(view1.where(col("doc_id") < 5L).count() === 0L)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("add-only feed: the size-tiered trigger keeps the store BOUNDED " +
      "across 50 micro-batches — version dirs capped, serving plan " +
      "width flat, zero tombstones, answer equal to the rebuild") {
    val tmp = java.nio.file.Files.createTempDirectory("imfeed50").toString
    val out = java.nio.file.Files.createTempDirectory("imstore50").toString
    val buckets = 8 // small writes x 50 batches: keep the layout tight
    val door = new Maintenance.Bm25Door(col("text"), buckets)
    val live = scala.collection.mutable.LinkedHashMap[Long, Int](
      (0L until 40L).map(_ -> 0): _*)
    IndexMaintenanceStream.bootstrap(spark, door, out, Bm25Index.write,
      docs(live.toSeq))
    def writeFeed(name: String,
                  rows: Seq[(String, Long, Int, Option[Int])]): Unit = {
      val staging = tmp + "/stage_" + name
      muts(rows).coalesce(1).write.parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(tmp, name + ".parquet"))
    }
    val perBatch = 2
    for (i <- 0 until 50) {
      val ids = (0 until perBatch).map(j => 1000L + i * perBatch + j)
      writeFeed(f"a$i%03d", ids.map(id => ("add", id, 0, None)))
      ids.foreach(live(_) = 0)
    }
    val maxDeltas = 6
    val feed = spark.readStream
      .schema("op string, doc_id bigint, text string, old_text string")
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "a*.parquet")
      .parquet(tmp)
    val q = IndexMaintenanceStream.mutationStream(feed, door, out,
      Bm25Index.write, s"$out/ckpt", Some(oldVersion),
      maxDeltas = maxDeltas)
    q.processAllAvailable(); q.stop()
    // every batch committed
    val stateV = graft.streaming.DocsStream.readPointer(spark, s"$out/state")
    assert(stateV.contains("v_b49"), s"stream stopped at $stateV")
    val st = Maintenance.loadState(spark, s"$out/state/v_b49")
    // the trigger fired REPEATEDLY with zero tombstones to fund it —
    // pure fragmentation policy (50 batches / <=6 live deltas forces
    // at least ceil(50/(maxDeltas+1)) rewrites even if only the count
    // tier ever fires)
    assert(st.tombstones.count() === 0L)
    assert(st.compactions >= 50L / (maxDeltas + 1),
      s"only ${st.compactions} compactions across 50 add-only batches")
    // BOUNDED store: the effective base + its reader-grace predecessor
    // + live deltas + one grace tier of folded deltas — never more
    val names = new java.io.File(s"$out/store").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(names.count(_.startsWith("base_")) <= 2,
      s"stale bases linger past the grace tier: $names")
    assert(names.count(_.startsWith("delta_b")) <= 2 * maxDeltas + 1,
      s"fragmentation unbounded: $names")
    // FLAT serving plan: leaves = version scans + the tombstone scan
    val (view, stats) = IndexMaintenanceStream.currentView(spark, door, out)
    val leaves = view.queryExecution.optimizedPlan.collectLeaves().length
    assert(leaves <= maxDeltas + 2,
      s"serving plan width grew with the feed: $leaves leaves")
    // and the answer is still exactly the rebuild
    val (pf, sf) = Bm25Index.build(docs(live.toSeq), col("doc_id"),
      col("text"), buckets)
    assert(stats.get.collect().toSeq === sf.collect().toSeq)
    assert(Bm25Index.search(view, stats.get, qTerms, 15, buckets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Bm25Index.search(pf, sf, qTerms, 15, buckets)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("READER GRACE: a serving view resolved before a compaction " +
      "still collects its snapshot after the sweep lands; the grace " +
      "tier is reclaimed by the SECOND compaction (or vacuum)") {
    val dir = java.nio.file.Files.createTempDirectory("imgrace").toString
    val door = new Maintenance.Bm25Door(col("text"), nBuckets)
    IndexMaintenanceStream.bootstrap(spark, door, dir, Bm25Index.write,
      docs((0L until 50L).map(_ -> 0)))
    // a long-running reader resolves the committed view NOW (parquet
    // scans over base_boot) — its query is still in flight when the
    // next batch's compaction folds that base
    val (reader0, stats0) =
      IndexMaintenanceStream.currentView(spark, door, dir)
    // batch 0 compacts (tiny threshold): stages base_b0, commits,
    // finalize sweeps — but the grace tier retains base_boot
    IndexMaintenanceStream.applyBatch(spark, door, dir, Bm25Index.write,
      muts((0L until 5L).map(id => ("delete", id, 0, None))), 0L,
      Some(oldVersion), compactThresholdBytes = 1L)
    assert(new java.io.File(s"$dir/store/base_boot").exists())
    // the in-flight reader completes on its pre-compaction snapshot:
    // the deleted docs are still visible to IT (snapshot isolation)
    assert(reader0.where(col("doc_id") < 5L)
      .select("doc_id").distinct().count() === 5L,
      "pre-compaction reader lost its snapshot")
    assert(stats0.get.collect().head.getLong(0) === 50L)
    // and a FRESH resolution serves the post-batch truth
    val (reader1, stats1) =
      IndexMaintenanceStream.currentView(spark, door, dir)
    assert(reader1.where(col("doc_id") < 5L).count() === 0L)
    assert(stats1.get.collect().head.getLong(0) === 45L)
    // batch 1 compacts again: NOW the boot base is past its grace
    // window and the lagged sweep reclaims it; base_b0 takes its slot
    IndexMaintenanceStream.applyBatch(spark, door, dir, Bm25Index.write,
      muts(Seq(("delete", 5L, 0, None))), 1L,
      Some(oldVersion), compactThresholdBytes = 1L)
    val names = new java.io.File(s"$dir/store").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(!names.contains("base_boot"),
      s"grace tier never reclaimed: $names")
    assert(names.contains("base_b0") && names.contains("base_b1"))
    // reader1 (resolved before batch 1) still collects ITS snapshot
    assert(reader1.where(col("doc_id") === 5L)
      .select("doc_id").distinct().count() === 1L,
      "reader resolved one compaction ago lost its snapshot")
    // vacuum eagerly reclaims the remaining grace tier (the object-level
    // door — the store-level sweep is private so a caller can never
    // strand state snapshots whose store dirs are gone)
    IndexMaintenanceStream.vacuum(spark, dir)
    val after = new java.io.File(s"$dir/store").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(after.count(_.startsWith("base_")) === 1 &&
      after.contains("base_b1"), s"vacuum left $after")
    // the committed view is untouched by vacuum
    val (reader2, stats2) =
      IndexMaintenanceStream.currentView(spark, door, dir)
    assert(reader2.where(col("doc_id") < 6L).count() === 0L)
    assert(stats2.get.collect().head.getLong(0) === 44L)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("seeded tailer fuzz: random mutation batches with REPLAY and " +
      "CRASH injection (before the state commit / between commit and " +
      "housekeeping) all end equal to the rebuild") {
    import graft.streaming.DocsStream
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val dir = java.nio.file.Files
        .createTempDirectory(s"imfuzz$seed").toString
      val door = new Maintenance.Bm25Door(col("text"), nBuckets)
      val live = scala.collection.mutable.LinkedHashMap[Long, Int](
        (0L until 60L).map(_ -> 0): _*)
      val resendable = scala.collection.mutable.Map.empty[Long, Int]
      val deadEver = scala.collection.mutable.Map.empty[Long, Int]
      var nextId = 60L
      var compactionsSeen = 0L
      IndexMaintenanceStream.bootstrap(spark, door, dir, Bm25Index.write,
        docs(live.toSeq))
      val maxDeltas = 4 // force fragmentation compactions mid-fuzz
      def compactions(): Long = Maintenance.loadState(spark,
        s"$dir/state/${DocsStream.readPointer(spark, s"$dir/state").get}")
        .compactions
      for (batch <- 0L until 6L) {
        val pool = rnd.shuffle(live.keys.toVector)
        val dels = pool.take(rnd.nextInt(5))
        val upds = pool.drop(dels.size).take(rnd.nextInt(5))
        val adds = (nextId until nextId + 1 + rnd.nextInt(4)).toVector
        nextId += adds.size
        val reAdd = if (rnd.nextBoolean())
          rnd.shuffle(deadEver.keySet.toVector).headOption else None
        val resend = if (rnd.nextBoolean())
          rnd.shuffle(resendable.keys.toVector).headOption else None
        val delPairs = dels.map(id => (id, live(id))) ++
          resend.map(id => (id, resendable(id)))
        val addPairs = adds.map(_ -> 0) ++
          reAdd.map(id => id -> (deadEver(id) + 1))
        val updPairsOld = upds.map(id => id -> live(id))
        val mutBatch = muts(
          delPairs.map { case (id, v) => ("delete", id, v, None) } ++
          addPairs.map { case (id, v) => ("add", id, v, None) } ++
          upds.map(id => ("update", id, live(id) + 1,
            Some(live(id)))))
        val thresh = if (rnd.nextInt(4) == 0) 64L * 25 else 10L << 20
        def applyIt(): Unit =
          IndexMaintenanceStream.applyBatch(spark, door, dir,
            Bm25Index.write, mutBatch, batch, Some(oldVersion),
            compactThresholdBytes = thresh, maxDeltas = maxDeltas)
        rnd.nextInt(4) match {
          case 0 => applyIt() // clean
          case 1 => applyIt(); applyIt() // at-least-once replay
          case 2 =>
            // crash BEFORE the state commit: the tick's delta (and a
            // possibly staged base) land, the pointer never moves; the
            // replay must rewrite the batch wholesale from the
            // pre-batch state
            val applied = DocsStream.readPointer(spark, s"$dir/state")
            val st0 = Maintenance.loadState(spark,
              s"$dir/state/${applied.get}")
            val store = new IndexMaintenanceStream.VersionedStore(spark,
              s"$dir/store", Bm25Index.write, batch, maxDeltas)
            Maintenance.tick(door, store, st0,
              adds = docs(addPairs), deletes = docs(delPairs),
              updates = docs(upds.map(id => id -> (live(id) + 1))),
              updatesOld = Some(docs(updPairsOld)),
              compactThresholdBytes = thresh)
            applyIt()
          case 3 =>
            // crash BETWEEN the state commit and the deferred
            // housekeeping: state pointer lands, sweep/finalize skipped;
            // the replay must detect the committed batch, skip the
            // tick whole, and heal the housekeeping
            val applied = DocsStream.readPointer(spark, s"$dir/state")
            val st0 = Maintenance.loadState(spark,
              s"$dir/state/${applied.get}")
            val store = new IndexMaintenanceStream.VersionedStore(spark,
              s"$dir/store", Bm25Index.write, batch, maxDeltas)
            val st1 = Maintenance.tick(door, store, st0,
              adds = docs(addPairs), deletes = docs(delPairs),
              updates = docs(upds.map(id => id -> (live(id) + 1))),
              updatesOld = Some(docs(updPairsOld)),
              compactThresholdBytes = thresh)
            Maintenance.saveState(st1, s"$dir/state/v_b$batch")
            DocsStream.swapPointer(spark, s"$dir/state", s"v_b$batch")
            applyIt()
        }
        dels.foreach { id =>
          resendable(id) = live(id); deadEver(id) = live(id)
          live.remove(id)
        }
        upds.foreach(id => live(id) = live(id) + 1)
        adds.foreach(live(_) = 0)
        reAdd.foreach { id =>
          live(id) = deadEver(id) + 1
          deadEver.remove(id); resendable.remove(id)
        }
        // a fired compaction retires the re-send history (the tick's
        // documented contract boundary)
        if (compactions() > compactionsSeen) {
          resendable.clear()
          compactionsSeen = compactions()
        }
      }
      val (view, stats) =
        IndexMaintenanceStream.currentView(spark, door, dir)
      val (pf, sf) = Bm25Index.build(docs(live.toSeq), col("doc_id"),
        col("text"), nBuckets)
      assert(stats.get.collect().toSeq === sf.collect().toSeq,
        s"seed=$seed: stats drifted")
      assert(sortedRows(view.drop("gen")) === sortedRows(pf),
        s"seed=$seed: postings drifted")
      assert(topk(view, stats.get) === topk(pf, sf),
        s"seed=$seed: search drifted")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
  test("CONSISTENT cross-store hybrid: both legs resolve at the MIN " +
      "committed batch — a batch landed in one store only is invisible " +
      "to the fused answer") {
    import graft.pipeline.{Retrieval, Similarity, VectorLeg}
    val root = java.nio.file.Files.createTempDirectory("imdual").toString
    val bmDir = s"$root/bm"; val ivfDir = s"$root/ivf"
    def vecs(ids: Seq[Long]): DataFrame =
      ids.map { id => (id,
        Array.tabulate(6)(d => ((id * 31 + d * 13) % 100) / 50.0f - 1f))
      }.toDF("vec_id", "embedding")
    def vmuts(op: String, ids: Seq[Long]): DataFrame =
      ids.map { id => (op, id,
        Array.tabulate(6)(d => ((id * 31 + d * 13) % 100) / 50.0f - 1f))
      }.toDF("op", "vec_id", "embedding")
    val ids = 0L until 50L
    val bmDoor = new Maintenance.Bm25Door(col("text"), nBuckets)
    val cents = Similarity.centroids(vecs(ids), 8)
    val ivfDoor = new Maintenance.IvfDoor(cents)
    def ivfWrite(df: DataFrame, d: String, mode: String): Unit =
      df.write.partitionBy("cell").mode(mode).parquet(d)
    IndexMaintenanceStream.bootstrap(spark, bmDoor, bmDir,
      Bm25Index.write, docs(ids.map(_ -> 0)))
    IndexMaintenanceStream.bootstrap(spark, ivfDoor, ivfDir, ivfWrite,
      vecs(ids))
    // batch 0 lands in BOTH stores; batch 1 lands in the BM25 store
    // only (the in-flight window of a dual-store feed)
    IndexMaintenanceStream.applyBatch(spark, bmDoor, bmDir,
      Bm25Index.write, muts((0L until 5L).map(id =>
        ("delete", id, 0, None))), 0L, Some(oldVersion))
    IndexMaintenanceStream.applyBatch(spark, ivfDoor, ivfDir, ivfWrite,
      vmuts("delete", 0L until 5L), 0L)
    IndexMaintenanceStream.applyBatch(spark, bmDoor, bmDir,
      Bm25Index.write, muts(Seq(("delete", 5L, 0, None))), 1L,
      Some(oldVersion))
    assert(IndexMaintenanceStream.committedBatch(spark, bmDir) === 1L)
    assert(IndexMaintenanceStream.committedBatch(spark, ivfDir) === 0L)
    val q = vecs(Seq(7L))
    val ivfLeg = VectorLeg.ivfStore(ivfDoor, ivfDir, cents, 8)
    def hybrid(): Seq[(Long, Long, Long)] =
      Retrieval.storeHybrid(spark, bmDoor, bmDir, nBuckets, ivfLeg,
        Retrieval.BatchQuery(q, Seq(7L -> qTerms)), k = 10, legK = 12)
        .orderBy("rank").select("doc_id", "rrf_ppm", "n_legs")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq
    def fuseAt(b: Long): Seq[(Long, Long, Long)] = {
      val (bmV, bmS) = IndexMaintenanceStream.viewAt(spark, bmDoor,
        bmDir, b)
      val (ivfV, _) = IndexMaintenanceStream.viewAt(spark, ivfDoor,
        ivfDir, b)
      Retrieval.rrfFuse(Seq(
        Retrieval.rankLex(Bm25Index.search(bmV, bmS.get, qTerms, 12,
          nBuckets)),
        VectorLeg.Ivf(ivfV, cents, nprobe = 8).batch(q, 12)
          .select(col("nid").as("doc_id"), col("rank"))), k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq
    }
    // the fused answer is the CONSISTENT batch-0 pair: doc 5's BM25
    // delete (committed in one store only) is invisible to both legs
    assert(hybrid() === fuseAt(0L))
    val (bmLatest, _) = IndexMaintenanceStream.currentView(spark,
      bmDoor, bmDir)
    assert(bmLatest.where(col("doc_id") === 5L).count() === 0L,
      "fixture broken: doc 5 should be gone from the BM25 head")
    val (bmAt0, _) = IndexMaintenanceStream.viewAt(spark, bmDoor,
      bmDir, 0L)
    assert(bmAt0.where(col("doc_id") === 5L).count() > 0L,
      "fixture broken: doc 5 should be live at batch 0")
    // the IVF store catches up: the pair advances to batch 1 whole
    IndexMaintenanceStream.applyBatch(spark, ivfDoor, ivfDir, ivfWrite,
      vmuts("delete", Seq(5L)), 1L)
    assert(hybrid() === fuseAt(1L))
    // FILTERED + BATCHED through the store facade: the allowed mask
    // rides the batch and must equal the per-query filtered fusion
    // over the same consistent views, per qid
    val allowed = spark.range(50).select((col("id") * 2).as("doc_id"))
    val qb = Seq(7L -> qTerms, 9L -> Seq("alpha", "beta"))
    val batched = Retrieval.storeHybrid(spark, bmDoor, bmDir, nBuckets,
      ivfLeg, Retrieval.BatchQuery(vecs(Seq(7L, 9L)), qb), k = 10,
      legK = 12, allowed = Some(allowed))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(4))).groupBy(_._1)
    val (bmV, bmS) = IndexMaintenanceStream.viewAt(spark, bmDoor,
      bmDir, 1L)
    val (ivfV, _) = IndexMaintenanceStream.viewAt(spark, ivfDoor,
      ivfDir, 1L)
    for ((qid, terms) <- qb) {
      val alone = Retrieval.rrfFuse(Seq(
        Retrieval.rankLex(Bm25Index.searchFiltered(bmV, bmS.get, terms,
          12, nBuckets, allowed)),
        VectorLeg.Ivf(ivfV, cents, 8).batch(vecs(Seq(qid)), 12,
          Some(allowed))
          .select(col("nid").as("doc_id"), col("rank"))), k = 10)
        .collect().zipWithIndex.map { case (r, i) =>
          (qid, r.getLong(0), r.getLong(1), i + 1L) }
      assert(batched(qid).sortBy(_._4).toSeq === alone.toSeq,
        s"store-batched filtered fusion diverged for qid $qid")
      assert(alone.forall(_._2 % 2 == 0),
        s"qid $qid leaked a disallowed doc through the store tier")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("TIME TRAVEL: viewAt reconstructs any committed batch inside " +
      "the retention window and refuses past the grace floor") {
    val dir = java.nio.file.Files.createTempDirectory("imtravel").toString
    val door = new Maintenance.Bm25Door(col("text"), nBuckets)
    IndexMaintenanceStream.bootstrap(spark, door, dir, Bm25Index.write,
      docs((0L until 50L).map(_ -> 0)))
    def del(ids: Seq[Long], batch: Long, thresh: Long = 10L << 20): Unit =
      IndexMaintenanceStream.applyBatch(spark, door, dir, Bm25Index.write,
        muts(ids.map(id => ("delete", id, 0, None))), batch,
        Some(oldVersion), compactThresholdBytes = thresh)
    del(0L until 5L, 0L)
    del(Seq(5L), 1L)
    def docsAt(b: Long): (Long, Long) = {
      val (view, stats) = IndexMaintenanceStream.viewAt(spark, door, dir, b)
      (view.select("doc_id").distinct().count(),
        stats.get.collect().head.getLong(0))
    }
    // every committed batch reconstructs, including the bootstrap
    assert(docsAt(-1L) === ((50L, 50L)))
    assert(docsAt(0L) === ((45L, 45L)))
    assert(docsAt(1L) === ((44L, 44L)))
    // the as-of-batch-0 view still contains doc 5 (deleted later)
    val (v0, _) = IndexMaintenanceStream.viewAt(spark, door, dir, 0L)
    assert(v0.where(col("doc_id") === 5L).count() > 0L)
    // a batch that never committed refuses with the window in the error
    val e1 = intercept[RuntimeException](docsAt(7L))
    assert(e1.getMessage.contains("retention window"))
    // two compactions advance the grace floor past the early snapshots
    del(Seq(6L), 2L, thresh = 1L)
    del(Seq(7L), 3L, thresh = 1L)
    val e2 = intercept[RuntimeException](docsAt(-1L))
    assert(e2.getMessage.contains("retention window"))
    val e3 = intercept[RuntimeException](docsAt(0L))
    assert(e3.getMessage.contains("retention window"))
    // batches at or above the floor still reconstruct exactly
    assert(docsAt(2L) === ((43L, 43L)))
    val (v2, _) = IndexMaintenanceStream.viewAt(spark, door, dir, 2L)
    assert(v2.where(col("doc_id") === 7L).count() > 0L)
    assert(docsAt(3L) === ((42L, 42L)))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("FS-op budget (counting FileSystem): an applied batch lists the " +
      "store root ≤2 times, and a delete-only batch starts NO delta " +
      "write at all — while answers stay ≡ rebuild") {
    CountingFs.install(spark)
    val local = java.nio.file.Files.createTempDirectory("imfsops")
      .toString
    val dir = s"cfs:$local"
    val door = new Maintenance.Bm25Door(col("text"), nBuckets)
    val live = scala.collection.mutable.LinkedHashMap[Long, Int](
      (0L until 40L).map(_ -> 0): _*)
    IndexMaintenanceStream.bootstrap(spark, door, dir, Bm25Index.write,
      docs(live.toSeq))
    val storeRoot = s"$local/store"
    def rootListings: Int = CountingFs.snapshot.count { case (op, p) =>
      op == "listStatus" && p == storeRoot
    }
    // ---- mixed batch: the normal feed shape
    CountingFs.reset()
    IndexMaintenanceStream.applyBatch(spark, door, dir, Bm25Index.write,
      muts(Seq(("add", 100L, 0, None), ("delete", 3L, 0, None),
        ("update", 5L, 1, Some(0)))), 0L, Some(oldVersion))
    live += (100L -> 0); live -= 3L; live += (5L -> 1)
    assert(rootListings <= 2,
      s"mixed batch listed the store root $rootListings times " +
        s"(budget 2) — the r14 shape re-listed once per layout consumer")
    // ---- delete-only batch (retention-enforcement feed): the tick
    // must skip the delta write job whole — no create() ever targets
    // the batch's delta dir, and the dir never exists
    CountingFs.reset()
    IndexMaintenanceStream.applyBatch(spark, door, dir, Bm25Index.write,
      muts(Seq(("delete", 7L, 0, None), ("delete", 11L, 0, None))), 1L,
      Some(oldVersion))
    live -= 7L; live -= 11L
    assert(rootListings <= 2,
      s"delete-only batch listed the store root $rootListings times")
    assert(!CountingFs.snapshot.exists(_._2.contains("delta_b1")),
      "a delete-only batch touched its delta dir — the empty write " +
        "was supposed to be skipped outright")
    assert(!new java.io.File(s"$local/store/delta_b1").exists(),
      "delete-only batch left a delta dir")
    // ---- and the committed view is still exactly the rebuild
    val (view, stats) =
      IndexMaintenanceStream.currentView(spark, door, dir)
    val (pf, sf) = Bm25Index.build(docs(live.toSeq), col("doc_id"),
      col("text"), nBuckets)
    assert(stats.get.collect().toSeq === sf.collect().toSeq)
    assert(topk(view, stats.get) === topk(pf, sf))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(local))
  }

  test("object-level vacuum sweeps BOTH halves of the grace tier: " +
      "viewAt below the boundary fails fast with the retention-window " +
      "message, never the store's missing-base error") {
    val dir = java.nio.file.Files.createTempDirectory("imvac").toString
    val door = new Maintenance.Bm25Door(col("text"), nBuckets)
    IndexMaintenanceStream.bootstrap(spark, door, dir, Bm25Index.write,
      docs((0L until 30L).map(_ -> 0)))
    def del(id: Long, batch: Long): Unit =
      IndexMaintenanceStream.applyBatch(spark, door, dir, Bm25Index.write,
        muts(Seq(("delete", id, 0, None))), batch, Some(oldVersion),
        compactThresholdBytes = 1L) // compact every batch
    del(0L, 0L); del(1L, 1L)
    // grace tier present on both halves: retired base_b0 + its state
    assert(new java.io.File(s"$dir/store/base_b0").exists())
    assert(new java.io.File(s"$dir/state/v_b0").exists())
    val boundary = IndexMaintenanceStream.vacuum(spark, dir)
    assert(boundary === 1L)
    val stores = new java.io.File(s"$dir/store").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(stores.count(_.startsWith("base_")) === 1 &&
      stores.contains("base_b1"), s"store half not reclaimed: $stores")
    val states = new java.io.File(s"$dir/state").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    assert(!states.contains("v_b0") && !states.contains("v_boot"),
      s"state snapshots below the boundary survived vacuum: $states " +
        "— a viewAt there would die in the store layout with a " +
        "misleading missing-base error")
    // below the boundary: the promised fail-fast, with the window named
    val e = intercept[RuntimeException](
      IndexMaintenanceStream.viewAt(spark, door, dir, 0L))
    assert(e.getMessage.contains("retention window"),
      s"wrong failure mode after vacuum: ${e.getMessage}")
    // at and above the boundary: still serving, still exact
    val (view, stats) =
      IndexMaintenanceStream.currentView(spark, door, dir)
    assert(view.select("doc_id").distinct().count() === 28L)
    assert(stats.get.collect().head.getLong(0) === 28L)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("store schema cache is keyed by the effective base: a restore " +
      "that installs a new base is served with ITS schema, not the " +
      "stale cached shape") {
    val dir = java.nio.file.Files
      .createTempDirectory("ims-schemakey").toString
    val door = new Maintenance.Bm25Door(col("text"), nBuckets)
    IndexMaintenanceStream.bootstrap(spark, door, dir, Bm25Index.write,
      docs((0L until 20L).map(_ -> 0)))
    // populate the per-root schema cache from base_boot
    val (v0, _) = IndexMaintenanceStream.currentView(spark, door, dir)
    val bootSchema = v0.schema.fieldNames.toSeq
    v0.count()
    assert(!bootSchema.contains("provenance"))
    // EXTERNAL RESTORE emulation (a foreign process, so no in-JVM
    // invalidation runs): install a NEW base carrying an extra column
    // and commit a state snapshot for it
    val restored = v0.withColumn("provenance", lit("restore"))
      .localCheckpoint(true)
    Bm25Index.write(restored, s"$dir/store/base_b0", "overwrite")
    Maintenance.saveState(
      Maintenance.State(Maintenance.emptyTombstones(spark, door), None, 2L),
      s"$dir/state/v_b0", tombstonesKnownEmpty = true)
    graft.streaming.DocsStream.swapPointer(spark, s"$dir/state", "v_b0")
    // the effective base changed (base_boot -> base_b0): the cached
    // schema must NOT be applied — a stale-schema read would silently
    // DROP the new column; the base-keyed cache re-infers instead
    val (v1, _) = IndexMaintenanceStream.currentView(spark, door, dir)
    assert(v1.schema.fieldNames.contains("provenance"),
      "restored base served through the stale cached schema " +
        s"(columns: ${v1.schema.fieldNames.mkString(", ")})")
    assert(v1.where(col("provenance") === "restore").count() ===
      restored.count())
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
