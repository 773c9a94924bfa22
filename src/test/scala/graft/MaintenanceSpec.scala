package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Bm25Index, Dedup, Maintenance, Similarity,
  VectorLeg}

/** [[pipeline.Maintenance.tick]] must compose the generation doors
  * correctly for every mutation sequence a deployment can produce —
  * including the ones that bit round 12: delete-after-update through
  * the unified tombstone table, retried batches, and re-adding a
  * previously deleted id. Every scenario ends with full equality
  * against a fresh rebuild on the surviving corpus.
  */
class MaintenanceSpec extends AnyFunSuite {
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

  private def emb(id: Long, ver: Int): Array[Float] =
    Array.tabulate(6)(d => ((id * 31 + ver * 7 + d * 13) % 100) / 50.0f - 1f)

  private def vecs(ids: Seq[(Long, Int)]): DataFrame =
    ids.map { case (id, v) => (id, emb(id, v)) }.toDF("vec_id", "embedding")

  private def topk(p: DataFrame, s: DataFrame) =
    Bm25Index.search(p, s, qTerms, 15, nBuckets)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def sortedRows(df: DataFrame): Seq[Seq[Any]] = {
    val cols = df.columns.sorted.map(col).toSeq
    df.select(cols: _*).collect().map(_.toSeq.map {
      case a: Seq[_] => a.toVector
      case x => x
    }).toSeq.sortBy(_.mkString("|"))
  }

  test("BM25 door through FrameStore: ticks with delete-after-update, " +
      "re-sent delete, retried update, and re-add-after-delete end " +
      "equal to a fresh rebuild (postings, stats, search)") {
    val live = scala.collection.mutable.LinkedHashMap[Long, Int](
      (0L until 100L).map(_ -> 0): _*)
    val door = new Maintenance.Bm25Door(col("text"), nBuckets)
    val (p0, s0) = Bm25Index.build(docs(live.toSeq), col("doc_id"),
      col("text"), nBuckets)
    val store = new Maintenance.FrameStore(Bm25Index.stampGen(p0, 0L))
    var st = Maintenance.initialState(spark, door, Some(s0))
    def empty = docs(Nil)

    // tick 1: plain mix — delete 0..9, update 10..19, add 100..109
    val del1 = (0L until 10L).map(id => (id, 0))
    val upd1 = (10L until 20L).toVector
    val add1 = (100L until 110L).toVector
    st = Maintenance.tick(door, store, st,
      adds = docs(add1.map(_ -> 0)),
      deletes = docs(del1),
      updates = docs(upd1.map(_ -> 1)),
      updatesOld = Some(docs(upd1.map(_ -> 0))))
    del1.foreach { case (id, _) => live.remove(id) }
    upd1.foreach(live(_) = 1)
    add1.foreach(live(_) = 0)

    // tick 2: the round-12 trap — delete ids UPDATED in tick 1 through
    // the same unified table, re-send a tick-1 delete (suppressed),
    // retry tick-1's update batch at its ORIGINAL gen via the facade
    // contract (tick guards by >= gen-1, so re-sending inside a later
    // tick is a NEW update — the retry case is covered below), and add
    val delUpd = upd1.take(4) // previously updated, currently v1
    st = Maintenance.tick(door, store, st,
      adds = docs(Seq(110L -> 0)),
      deletes = docs(delUpd.map(id => (id, 1)) :+ (0L, 0)),
      updates = empty, updatesOld = Some(empty))
    delUpd.foreach(live.remove)
    live(110L) = 0

    // tick 3: re-add a fully deleted id (demotion) with FRESH text
    st = Maintenance.tick(door, store, st,
      adds = docs(Seq(3L -> 2)),
      deletes = empty, updates = empty, updatesOld = Some(empty))
    live(3L) = 2

    // end state ≡ rebuild on the survivors
    val (pf, sf) = Bm25Index.build(docs(live.toSeq), col("doc_id"),
      col("text"), nBuckets)
    assert(st.stats.get.collect().toSeq === sf.collect().toSeq,
      "stats drifted from the surviving corpus")
    val liveRows = st.live(door, store)
    assert(sortedRows(liveRows.drop("gen")) === sortedRows(pf),
      "postings multiset drifted from the rebuild")
    assert(topk(liveRows, st.stats.get) === topk(pf, sf))
    assert(st.nextGen === 4L && st.compactions === 0L)
  }

  test("tick compaction: a low threshold fires mid-sequence, the store " +
      "is rewritten without the retired generations, tombstones drop, " +
      "and the answer is unchanged") {
    val ids = (0L until 80L).map(_ -> 0)
    val door = new Maintenance.Bm25Door(col("text"), nBuckets)
    val (p0, s0) = Bm25Index.build(docs(ids), col("doc_id"),
      col("text"), nBuckets)
    val store = new Maintenance.FrameStore(Bm25Index.stampGen(p0, 0L))
    var st = Maintenance.initialState(spark, door, Some(s0))
    def empty = docs(Nil)
    // 64 B/row × 20 rows comfort line: the second delete tick crosses it
    for (t <- 0 until 3) {
      st = Maintenance.tick(door, store, st,
        adds = empty,
        deletes = docs((t * 15 until t * 15 + 15).map(i => (i.toLong, 0))),
        updates = empty, updatesOld = Some(empty),
        compactThresholdBytes = 64L * 20)
    }
    assert(st.compactions >= 1, "trigger never fired")
    assert(st.tombstones.count() < 20,
      "compaction did not drop the tombstone table")
    val survivors = docs((45L until 80L).map(_ -> 0))
    val (pf, sf) = Bm25Index.build(survivors, col("doc_id"), col("text"),
      nBuckets)
    assert(st.stats.get.collect().toSeq === sf.collect().toSeq)
    assert(topk(st.live(door, store), st.stats.get) === topk(pf, sf))
    // compaction physically removed every tombstoned row
    assert(store.rows.where(col("doc_id") < 30).count() === 0L)
  }

  test("BM25 door through ParquetStore: append/compact rewrite keep the " +
      "partitioned layout and the rebuild equality") {
    val dir = java.nio.file.Files.createTempDirectory("mtick").toString
    val ids = (0L until 60L).map(_ -> 0)
    val door = new Maintenance.Bm25Door(col("text"), nBuckets)
    val (p0, s0) = Bm25Index.build(docs(ids), col("doc_id"),
      col("text"), nBuckets)
    Bm25Index.write(Bm25Index.stampGen(p0, 0L), dir)
    val store = new Maintenance.ParquetStore(spark, dir, Bm25Index.write)
    var st = Maintenance.initialState(spark, door, Some(s0))
    def empty = docs(Nil)
    val upd = (0L until 12L).toVector
    st = Maintenance.tick(door, store, st,
      adds = docs(Seq(60L -> 0, 61L -> 0)),
      deletes = docs(Seq((20L, 0), (21L, 0))),
      updates = docs(upd.map(_ -> 1)),
      updatesOld = Some(docs(upd.map(_ -> 0))),
      compactThresholdBytes = 64L * 4) // force the physical rewrite
    assert(st.compactions === 1L)
    val survivors = docs(upd.map(_ -> 1) ++
      (12L until 60L).filterNot(Set(20L, 21L)).map(_ -> 0) ++
      Seq(60L -> 0, 61L -> 0))
    val (pf, sf) = Bm25Index.build(survivors, col("doc_id"), col("text"),
      nBuckets)
    assert(st.stats.get.collect().toSeq === sf.collect().toSeq)
    val reloaded = store.rows
    assert(topk(reloaded, st.stats.get) === topk(pf, sf))
    // the swap kept the hive partitioning (bucket=... directories)
    assert(new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith("bucket=")))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("seeded fuzz: random multi-tick sequences (deletes, updates, " +
      "adds, deletes-of-updated, re-sent deletes, re-adds, mid-run " +
      "compactions) all end equal to the rebuild") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val live = scala.collection.mutable.LinkedHashMap[Long, Int](
        (0L until 80L).map(_ -> 0): _*)
      // ids with a LIVE (uncompacted) MaxValue tombstone — the only
      // legal re-send targets; compaction retires the history
      val resendable = scala.collection.mutable.Map.empty[Long, Int]
      val deadEver = scala.collection.mutable.Map.empty[Long, Int]
      var nextId = 80L
      val door = new Maintenance.Bm25Door(col("text"), nBuckets)
      val (p0, s0) = Bm25Index.build(docs(live.toSeq), col("doc_id"),
        col("text"), nBuckets)
      val store = new Maintenance.FrameStore(Bm25Index.stampGen(p0, 0L))
      var st = Maintenance.initialState(spark, door, Some(s0))
      for (_ <- 1 to 5) {
        val pool = rnd.shuffle(live.keys.toVector)
        val dels = pool.take(rnd.nextInt(6))
        val upds = pool.drop(dels.size).take(rnd.nextInt(6))
        val adds = (nextId until nextId + 1 + rnd.nextInt(5)).toVector
        nextId += adds.size
        val reAdd = if (rnd.nextBoolean())
          rnd.shuffle(deadEver.keySet.toVector).headOption else None
        val resend = if (rnd.nextBoolean())
          rnd.shuffle(resendable.keys.toVector).headOption else None
        val delDocs = docs(dels.map(id => (id, live(id))) ++
          resend.map(id => (id, resendable(id))))
        val addDocs = docs(adds.map(_ -> 0) ++
          reAdd.map(id => id -> (deadEver(id) + 1)))
        val before = st.compactions
        st = Maintenance.tick(door, store, st,
          adds = addDocs, deletes = delDocs,
          updates = docs(upds.map(id => id -> (live(id) + 1))),
          updatesOld = Some(docs(upds.map(id => id -> live(id)))),
          compactThresholdBytes = 64L * 25)
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
        if (st.compactions > before) resendable.clear()
      }
      val (pf, sf) = Bm25Index.build(docs(live.toSeq), col("doc_id"),
        col("text"), nBuckets)
      assert(st.stats.get.collect().toSeq === sf.collect().toSeq,
        s"seed=$seed: stats drifted")
      assert(sortedRows(st.live(door, store).drop("gen"))
        === sortedRows(pf), s"seed=$seed: postings drifted")
      assert(topk(st.live(door, store), st.stats.get) === topk(pf, sf),
        s"seed=$seed: search drifted")
    }
  }

  test("seeded PQ-door fuzz: random multi-tick sequences through BOTH " +
      "code doors (raw and residual) end equal to a fresh " +
      "assign+encode of the survivors, probes included") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(100 + seed)
      val live = scala.collection.mutable.LinkedHashMap[Long, Int](
        (0L until 70L).map(_ -> 0): _*)
      val deadEver = scala.collection.mutable.Map.empty[Long, Int]
      var nextId = 70L
      val base = vecs(live.toSeq)
      val cents = Similarity.centroids(base, 8)
      val cbs = Similarity.pqCodebooks(base, 3, 8)
      val rcbs = Similarity.ivfPqResidualTrain(base, cents, 3, 8, 1)
      val rawDoor = new Maintenance.IvfPqDoor(cents, cbs)
      val resDoor = new Maintenance.IvfPqResidualDoor(cents, rcbs)
      val rawStore = new Maintenance.FrameStore(Similarity.ivfStampGen(
        Similarity.ivfPqAssign(base, cents, cbs), 0L))
      val resStore = new Maintenance.FrameStore(Similarity.ivfStampGen(
        Similarity.ivfPqResidualAssign(base, cents, rcbs), 0L))
      var rawSt = Maintenance.initialState(spark, rawDoor)
      var resSt = Maintenance.initialState(spark, resDoor)
      for (_ <- 1 to 4) {
        val pool = rnd.shuffle(live.keys.toVector)
        val dels = pool.take(rnd.nextInt(5))
        val upds = pool.drop(dels.size).take(rnd.nextInt(5))
        val adds = (nextId until nextId + 1 + rnd.nextInt(4)).toVector
        nextId += adds.size
        val reAdd = if (rnd.nextBoolean())
          rnd.shuffle(deadEver.keySet.toVector).headOption else None
        val delVecs = vecs(dels.map(id => (id, live(id))))
        val addVecs = vecs(adds.map(_ -> 0) ++
          reAdd.map(id => id -> (deadEver(id) + 1)))
        val updVecs = vecs(upds.map(id => id -> (live(id) + 1)))
        rawSt = Maintenance.tick(rawDoor, rawStore, rawSt,
          adds = addVecs, deletes = delVecs, updates = updVecs,
          compactThresholdBytes = 64L * 20)
        resSt = Maintenance.tick(resDoor, resStore, resSt,
          adds = addVecs, deletes = delVecs, updates = updVecs,
          compactThresholdBytes = 64L * 20)
        dels.foreach { id => deadEver(id) = live(id); live.remove(id) }
        upds.foreach(id => live(id) = live(id) + 1)
        adds.foreach(live(_) = 0)
        reAdd.foreach { id =>
          live(id) = deadEver(id) + 1; deadEver.remove(id)
        }
      }
      val survivors = vecs(live.toSeq)
      assert(sortedRows(rawSt.live(rawDoor, rawStore).drop("gen"))
        === sortedRows(Similarity.ivfPqAssign(survivors, cents, cbs)),
        s"seed=$seed: raw code rows drifted")
      assert(sortedRows(resSt.live(resDoor, resStore).drop("gen"))
        === sortedRows(
          Similarity.ivfPqResidualAssign(survivors, cents, rcbs)),
        s"seed=$seed: residual code rows drifted")
      // probe vectors need not be corpus members — only valid inputs
      val q = vecs(Seq(20L -> 0, 21L -> 0))
      assert(VectorLeg.Pq(rawSt.live(rawDoor, rawStore), cents, cbs, 3)
          .batch(q, 5)
          .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
        === VectorLeg.Pq(Similarity.ivfPqAssign(survivors, cents, cbs),
          cents, cbs, 3).batch(q, 5)
          .orderBy("qid", "rank").collect().map(_.toSeq).toSeq,
        s"seed=$seed: raw probe drifted")
      assert(VectorLeg.PqResidual(resSt.live(resDoor, resStore), cents,
          rcbs, 3).batch(q, 5)
          .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
        === VectorLeg.PqResidual(
          Similarity.ivfPqResidualAssign(survivors, cents, rcbs),
          cents, rcbs, 3).batch(q, 5)
          .orderBy("qid", "rank").collect().map(_.toSeq).toSeq,
        s"seed=$seed: residual probe drifted")
    }
  }

  test("state save/load across a 'restart': reloaded tombstones still " +
      "suppress re-sent deletes, the generation resumes, and the end " +
      "state equals the rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("mstate").toString
    val ids = (0L until 70L).map(_ -> 0)
    val door = new Maintenance.Bm25Door(col("text"), nBuckets)
    val (p0, s0) = Bm25Index.build(docs(ids), col("doc_id"),
      col("text"), nBuckets)
    Bm25Index.write(Bm25Index.stampGen(p0, 0L), s"$dir/store")
    val store = new Maintenance.ParquetStore(spark, s"$dir/store",
      Bm25Index.write)
    var st = Maintenance.initialState(spark, door, Some(s0))
    def empty = docs(Nil)
    val upd = (10L until 16L).toVector
    st = Maintenance.tick(door, store, st,
      adds = docs(Seq(70L -> 0)),
      deletes = docs((0L until 5L).map(i => (i, 0))),
      updates = docs(upd.map(_ -> 1)),
      updatesOld = Some(docs(upd.map(_ -> 0))))
    Maintenance.saveState(st, s"$dir/state")
    // ---- "restart": a fresh State object from disk ----
    val st2 = Maintenance.loadState(spark, s"$dir/state")
    assert(st2.nextGen === st.nextGen && st2.compactions === st.compactions)
    assert(st2.stats.get.collect().toSeq === st.stats.get.collect().toSeq)
    // a re-sent delete and a retried update batch are both still
    // recognized by the RELOADED tombstones
    val st3 = Maintenance.tick(door, store, st2,
      adds = docs(Seq(71L -> 0)),
      deletes = docs(Seq((0L, 0), (20L, 0))), // 0 re-sent, 20 fresh
      updates = empty, updatesOld = Some(empty))
    val survivors = docs(upd.map(_ -> 1) ++
      (5L until 70L).filterNot(id => upd.contains(id) || id == 20L)
        .map(_ -> 0) ++ Seq(70L -> 0, 71L -> 0))
    val (pf, sf) = Bm25Index.build(survivors, col("doc_id"), col("text"),
      nBuckets)
    assert(st3.stats.get.collect().toSeq === sf.collect().toSeq,
      "stats drifted across the save/load restart")
    assert(topk(st3.live(door, store), st3.stats.get) === topk(pf, sf))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("IVF door: ticks under the frozen quantizer end equal to a " +
      "fresh assignment of the surviving vectors") {
    val live = scala.collection.mutable.LinkedHashMap[Long, Int](
      (0L until 60L).map(_ -> 0): _*)
    val cents = Similarity.centroids(vecs(live.toSeq), 8)
    val door = new Maintenance.IvfDoor(cents)
    val store = new Maintenance.FrameStore(
      Similarity.ivfStampGen(Similarity.ivfAssign(vecs(live.toSeq), cents), 0L))
    var st = Maintenance.initialState(spark, door)
    def empty = vecs(Nil)
    st = Maintenance.tick(door, store, st,
      adds = vecs((60L until 66L).map(_ -> 0)),
      deletes = vecs((0L until 5L).map(_ -> 0)),
      updates = vecs((10L until 16L).map(_ -> 1)))
    (0L until 5L).foreach(live.remove)
    (10L until 16L).foreach(live(_) = 1)
    (60L until 66L).foreach(live(_) = 0)
    // tick 2: delete two previously-updated ids (unified-table path)
    st = Maintenance.tick(door, store, st,
      adds = empty, deletes = vecs(Seq(10L -> 1, 11L -> 1)),
      updates = empty)
    live.remove(10L); live.remove(11L)
    val rebuilt = Similarity.ivfAssign(vecs(live.toSeq), cents)
    assert(sortedRows(st.live(door, store).drop("gen"))
      === sortedRows(rebuilt), "IVF cells drifted from the rebuild")
    assert(st.stats.isEmpty)
  }

  test("IvfPq door: ticks under BOTH frozen quantizers end equal to a " +
      "fresh assign+encode of the surviving vectors, and the pruned + " +
      "filtered ADC probe equals the rebuilt index's") {
    val live = scala.collection.mutable.LinkedHashMap[Long, Int](
      (0L until 60L).map(_ -> 0): _*)
    val base = vecs(live.toSeq)
    val cents = Similarity.centroids(base, 8)
    val cbs = Similarity.pqCodebooks(base, 3, 8) // 6 dims → subDim 2
    val door = new Maintenance.IvfPqDoor(cents, cbs)
    val store = new Maintenance.FrameStore(
      Similarity.ivfStampGen(Similarity.ivfPqAssign(base, cents, cbs),
        0L))
    var st = Maintenance.initialState(spark, door)
    def empty = vecs(Nil)
    st = Maintenance.tick(door, store, st,
      adds = vecs((60L until 66L).map(_ -> 0)),
      deletes = vecs((0L until 5L).map(_ -> 0)),
      updates = vecs((10L until 16L).map(_ -> 1)))
    (0L until 5L).foreach(live.remove)
    (10L until 16L).foreach(live(_) = 1)
    (60L until 66L).foreach(live(_) = 0)
    st = Maintenance.tick(door, store, st,
      adds = empty, deletes = vecs(Seq(10L -> 1, 11L -> 1)),
      updates = empty)
    live.remove(10L); live.remove(11L)
    val rebuilt = Similarity.ivfPqAssign(vecs(live.toSeq), cents, cbs)
    assert(sortedRows(st.live(door, store).drop("gen"))
      === sortedRows(rebuilt), "PQ code rows drifted from the rebuild")
    assert(st.stats.isEmpty)
    // the serving probe over the maintained store ≡ the same probe
    // over the rebuilt index, pruned and filtered alike
    val queries = vecs(Seq(20L -> 0, 21L -> 0))
    def probe(idx: DataFrame, allowed: Option[DataFrame]) =
      VectorLeg.Pq(idx, cents, cbs, nprobe = 3).batch(queries, 5, allowed)
        .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    assert(probe(st.live(door, store), None) === probe(rebuilt, None),
      "maintained-store ADC probe diverged from the rebuild's")
    val allowed = Some(vecs(live.toSeq)
      .where(col("vec_id") % 2 === 0).select("vec_id"))
    val filtered = probe(st.live(door, store), allowed)
    assert(filtered === probe(rebuilt, allowed),
      "filtered ADC probe diverged from the rebuild's")
    assert(filtered.nonEmpty &&
      filtered.forall(_(1).asInstanceOf[Long] % 2 == 0),
      "the mask leaked a disallowed id through the code index")
  }

  test("IvfPqResidual door (IVFADC): ticks under frozen centroids + " +
      "base-trained residual codebooks end equal to a fresh residual " +
      "re-encode of the survivors; pruned + filtered probe equals the " +
      "rebuild's") {
    val live = scala.collection.mutable.LinkedHashMap[Long, Int](
      (0L until 60L).map(_ -> 0): _*)
    val base = vecs(live.toSeq)
    val cents = Similarity.centroids(base, 8)
    val rcbs = Similarity.ivfPqResidualTrain(base, cents, 3, 8,
      trainIters = 1) // 6 dims → subDim 2
    val door = new Maintenance.IvfPqResidualDoor(cents, rcbs)
    val store = new Maintenance.FrameStore(
      Similarity.ivfStampGen(
        Similarity.ivfPqResidualAssign(base, cents, rcbs), 0L))
    var st = Maintenance.initialState(spark, door)
    def empty = vecs(Nil)
    st = Maintenance.tick(door, store, st,
      adds = vecs((60L until 66L).map(_ -> 0)),
      deletes = vecs((0L until 5L).map(_ -> 0)),
      updates = vecs((10L until 16L).map(_ -> 1)))
    (0L until 5L).foreach(live.remove)
    (10L until 16L).foreach(live(_) = 1)
    (60L until 66L).foreach(live(_) = 0)
    st = Maintenance.tick(door, store, st,
      adds = empty, deletes = vecs(Seq(10L -> 1, 11L -> 1)),
      updates = empty)
    live.remove(10L); live.remove(11L)
    val rebuilt = Similarity.ivfPqResidualAssign(vecs(live.toSeq),
      cents, rcbs)
    assert(sortedRows(st.live(door, store).drop("gen"))
      === sortedRows(rebuilt),
      "residual code rows drifted from the rebuild")
    val queries = vecs(Seq(20L -> 0, 21L -> 0))
    def probe(idx: DataFrame, allowed: Option[DataFrame]) =
      VectorLeg.PqResidual(idx, cents, rcbs, nprobe = 3)
        .batch(queries, 5, allowed)
        .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    assert(probe(st.live(door, store), None) === probe(rebuilt, None),
      "maintained residual-store probe diverged from the rebuild's")
    val allowed = Some(vecs(live.toSeq)
      .where(col("vec_id") % 2 === 0).select("vec_id"))
    val filtered = probe(st.live(door, store), allowed)
    assert(filtered === probe(rebuilt, allowed) && filtered.nonEmpty &&
      filtered.forall(_(1).asInstanceOf[Long] % 2 == 0),
      "filtered residual probe diverged or leaked")
    // and the decoupled pieces compose back to the one-call operator
    val oneCall = Similarity.ivfPqResidualTopK(queries, base, 5,
      nlist = 8, nprobe = 3, m = 3, ksub = 8, trainIters = 1)
      .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    val composed = Similarity.ivfPqResidualTopKIndexed(queries,
      Similarity.ivfPqResidualAssign(base, cents, rcbs), cents, rcbs,
      5, nprobe = 3)
      .orderBy("qid", "rank").collect().map(_.toSeq).toSeq
    assert(oneCall === composed,
      "ivfPqResidualTopK drifted from its decoupled pieces")
  }

  test("signature door: ticks end equal to fresh signatures of the " +
      "surviving docs; a retried update inside the same generation is " +
      "dropped by the facade guard") {
    val live = scala.collection.mutable.LinkedHashMap[Long, Int](
      (0L until 50L).map(_ -> 0): _*)
    val door = new Maintenance.SigDoor("doc_id", col("text"), 3, 32)
    val store = new Maintenance.FrameStore(
      Dedup.sigStampGen(Dedup.minhashSignatures(docs(live.toSeq),
        "doc_id", col("text"), 3, 32), 0L))
    var st = Maintenance.initialState(spark, door)
    def empty = docs(Nil)
    st = Maintenance.tick(door, store, st,
      adds = docs((50L until 55L).map(_ -> 0)),
      deletes = docs((0L until 4L).map(_ -> 0)),
      updates = docs((20L until 26L).map(_ -> 1)))
    (0L until 4L).foreach(live.remove)
    (20L until 26L).foreach(live(_) = 1)
    (50L until 55L).foreach(live(_) = 0)
    // the facade-level retry: same ids, same gen (st.nextGen - 1), the
    // unified table already carries their (id, gen-1) tombstones
    val (dRetry, tRetry) = Dedup.sigUpdate(docs((20L until 26L)
      .map(_ -> 1)), "doc_id", col("text"), 3, 32,
      newGen = st.nextGen - 1, priorTombstones = Some(st.tombstones))
    assert(dRetry.count() === 0L && tRetry.count() === 0L,
      "sigUpdate retry slipped the guard")
    // and the IVF facade behaves identically
    val cents = Similarity.centroids(vecs((0L until 20L).map(_ -> 0)), 4)
    val (ivfD, ivfT) = Similarity.ivfUpdate(vecs(Seq(20L -> 1)), cents,
      newGen = st.nextGen - 1,
      priorTombstones = Some(st.tombstones
        .select(col("did").as("nid"), col("upto_gen"))))
    assert(ivfD.count() === 0L && ivfT.count() === 0L,
      "ivfUpdate retry slipped the guard")
    val rebuilt = Dedup.minhashSignatures(docs(live.toSeq), "doc_id",
      col("text"), 3, 32)
    assert(sortedRows(st.live(door, store).drop("gen"))
      === sortedRows(rebuilt), "signatures drifted from the rebuild")
  }

  test("ParquetStore.rewrite crash windows: every interruption point " +
      "leaves a complete store that rows/append recover") {
    import org.apache.commons.io.FileUtils
    val root = java.nio.file.Files.createTempDirectory("mcrash").toString
    val dir = s"$root/store"
    val door = new Maintenance.Bm25Door(col("text"), nBuckets)
    val ids = (0L until 40L).map(_ -> 0)
    val (p0, _) = Bm25Index.build(docs(ids), col("doc_id"),
      col("text"), nBuckets)
    Bm25Index.write(Bm25Index.stampGen(p0, 0L), dir)
    val store = new Maintenance.ParquetStore(spark, dir, Bm25Index.write)
    def docCount = store.rows.select("doc_id").distinct().count()

    // window 1: crash between move-aside and move-in — primary path
    // missing, the COMPLETE new store stranded in .compact. Simulate:
    // materialize the compacted survivors into the side dir, then move
    // the primary away exactly as rewrite would have.
    val tombs = Bm25Index.genTombstones(
      docs((0L until 10L).map(_ -> 0)), col("doc_id"), Long.MaxValue)
    Bm25Index.write(
      Bm25Index.applyGenTombstones(store.rows, tombs), dir + ".compact")
    FileUtils.moveDirectory(new java.io.File(dir),
      new java.io.File(dir + ".old"))
    assert(!new java.io.File(dir).exists())
    assert(docCount === 30L, "reader did not promote the complete side dir")
    assert(new java.io.File(dir).exists(), "recovery left no primary path")

    // window 2: crash right after the side write (primary intact) —
    // stale .compact and .old garbage must not derail the NEXT rewrite
    FileUtils.forceMkdir(new java.io.File(dir + ".compact"))
    FileUtils.writeStringToFile(
      new java.io.File(dir + ".compact/garbage"), "stale", "UTF-8")
    // .old may also linger from window 1's recovery
    val tombs2 = Bm25Index.genTombstones(
      docs((10L until 15L).map(_ -> 0)), col("doc_id"), Long.MaxValue)
    store.rewrite(Bm25Index.applyGenTombstones(store.rows, tombs2))
    assert(docCount === 25L)
    assert(!new java.io.File(dir + ".compact").exists(), ".compact lingers")
    assert(!new java.io.File(dir + ".old").exists(), ".old lingers")
    // append still lands on the healed primary
    store.append(door.stamp(door.index(docs(Seq(500L -> 0))), 1L))
    assert(docCount === 26L)
    FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("the re-send tolerance ends at a compaction: a delete re-sent " +
      "AFTER its tombstone history was folded double-decrements stats " +
      "(the documented contract boundary), while rows stay exact") {
    val ids = (0L until 50L).map(_ -> 0)
    val door = new Maintenance.Bm25Door(col("text"), nBuckets)
    val (p0, s0) = Bm25Index.build(docs(ids), col("doc_id"),
      col("text"), nBuckets)
    val store = new Maintenance.FrameStore(Bm25Index.stampGen(p0, 0L))
    var st = Maintenance.initialState(spark, door, Some(s0))
    def empty = docs(Nil)
    // tick 1 deletes id 5 and compacts (tiny threshold) — the
    // tombstone history is folded into the store and dropped
    st = Maintenance.tick(door, store, st, adds = empty,
      deletes = docs(Seq(5L -> 0)), updates = empty,
      updatesOld = Some(empty), compactThresholdBytes = 1L)
    assert(st.compactions === 1L && st.tombstones.count() === 0L)
    // tick 2 re-sends the SAME delete: with no live history the guard
    // cannot distinguish it from a fresh delete
    st = Maintenance.tick(door, store, st, adds = empty,
      deletes = docs(Seq(5L -> 0)), updates = empty,
      updatesOld = Some(empty))
    val (pf, sf) = Bm25Index.build(docs((0L until 50L).filter(_ != 5L)
      .map(_ -> 0)), col("doc_id"), col("text"), nBuckets)
    // rows exact (the anti-join is idempotent; the row set never holds
    // id 5) — but the stats correction is NOT: n sits one below the
    // surviving corpus. This drift is the contract's boundary, not a
    // bug this spec would catch elsewhere: feeds must not re-send a
    // delete across a compaction (replays are covered by the tailer's
    // batch-id skip).
    assert(sortedRows(st.live(door, store).drop("gen"))
      === sortedRows(pf))
    val n = st.stats.get.collect().head.getLong(0)
    val nRebuild = sf.collect().head.getLong(0)
    assert(n === nRebuild - 1L,
      s"post-compaction re-send drift changed shape: $n vs $nRebuild")
  }

  test("a store reporting fragmentation compacts the tick even with an " +
      "empty tombstone table (the add-heavy feed's trigger)") {
    val door = new Maintenance.Bm25Door(col("text"), nBuckets)
    val (p0, s0) = Bm25Index.build(docs((0L until 30L).map(_ -> 0)),
      col("doc_id"), col("text"), nBuckets)
    val inner = new Maintenance.FrameStore(Bm25Index.stampGen(p0, 0L))
    var rewrites = 0
    val store = new Maintenance.Store {
      def rows: DataFrame = inner.rows
      def append(d: DataFrame): Unit = inner.append(d)
      def rewrite(l: DataFrame): Unit = { rewrites += 1; inner.rewrite(l) }
      override def fragmented: Boolean = true
    }
    var st = Maintenance.initialState(spark, door, Some(s0))
    def empty = docs(Nil)
    st = Maintenance.tick(door, store, st,
      adds = docs(Seq(100L -> 0)), deletes = empty, updates = empty,
      updatesOld = Some(empty))
    assert(rewrites === 1 && st.compactions === 1L,
      "fragmentation signal did not fire the rewrite")
    assert(st.tombstones.count() === 0L)
    val (pf, sf) = Bm25Index.build(docs((0L until 30L).map(_ -> 0)
      :+ (100L -> 0)), col("doc_id"), col("text"), nBuckets)
    assert(st.stats.get.collect().toSeq === sf.collect().toSeq)
    assert(topk(st.live(door, store), st.stats.get) === topk(pf, sf))
  }

  test("state meta rides a NULL stats field through the explicit " +
      "sentinel (never the string \"null\"), and refuses a stats " +
      "schema whose string form cannot round-trip exactly") {
    val dir = java.nio.file.Files.createTempDirectory("mnull").toString
    val door = new Maintenance.Bm25Door(col("text"), nBuckets)
    val stats = Seq((7L, Option.empty[Long]))
      .toDF("n", "total_len")
    val st = Maintenance.State(
      Maintenance.emptyTombstones(spark, door), Some(stats), 3L)
    Maintenance.saveState(st, s"$dir/state")
    val st2 = Maintenance.loadState(spark, s"$dir/state")
    val row = st2.stats.get.collect().head
    assert(row.getLong(0) === 7L)
    assert(row.isNullAt(1), "the null field must come back NULL")
    // a string-typed stats field would round-trip a null to the
    // LITERAL "null" — the save refuses the schema outright
    val bad = Seq(("x", 1L)).toDF("name", "n")
    val ex = intercept[IllegalArgumentException] {
      Maintenance.saveState(Maintenance.State(
        Maintenance.emptyTombstones(spark, door), Some(bad), 1L),
        s"$dir/state2")
    }
    assert(ex.getMessage.contains("round-trip"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("Quantizer: Some(empty) codebooks fail at construction with a " +
      "clear message, not ArrayIndexOutOfBounds inside serialize; " +
      "save lands via side-file + rename (no .tmp survivor, old file " +
      "replaced whole)") {
    val ex = intercept[IllegalArgumentException] {
      Maintenance.Quantizer(Seq(0L -> Array(1.0, 2.0)),
        Some(Array.empty[Array[Array[Double]]]))
    }
    assert(ex.getMessage.contains("non-empty"))
    val dir = java.nio.file.Files.createTempDirectory("mqsave").toString
    val path = s"$dir/quantizer"
    val q1 = Maintenance.Quantizer(Seq(0L -> Array(1.0, 2.0)), None)
    val q2 = Maintenance.Quantizer(Seq(0L -> Array(3.0, 4.0)), None)
    Maintenance.Quantizer.save(spark, path, q1)
    Maintenance.Quantizer.save(spark, path, q2) // overwrite via rename
    assert(Maintenance.Quantizer.load(spark, path).contentHash
      === q2.contentHash)
    assert(!new java.io.File(path + ".tmp").exists(),
      "the side file must not survive a completed save")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("saveState writes no tombstone parquet for a provably empty " +
      "table (loadState rebuilds it from the meta), writes and " +
      "round-trips one that is only empty at runtime, and the first " +
      "tick over the reloaded state equals the tick over the in-memory " +
      "state") {
    val dir = java.nio.file.Files.createTempDirectory("mtombs0").toString
    val ids = (0L until 40L).map(_ -> 0)
    val door = new Maintenance.Bm25Door(col("text"), nBuckets)
    val (p0, s0) = Bm25Index.build(docs(ids), col("doc_id"),
      col("text"), nBuckets)
    val st = Maintenance.initialState(spark, door, Some(s0))
    assert(Maintenance.saveState(st, s"$dir/state") === 0L)
    assert(!new java.io.File(s"$dir/state/tombstones").exists(),
      "the empty tombstone table must not be written as parquet")
    val st2 = Maintenance.loadState(spark, s"$dir/state")
    assert(st2.tombstones.schema === st.tombstones.schema)
    assert(st2.tombstones.count() === 0L)
    assert(st2.nextGen === st.nextGen)
    assert(st2.stats.get.collect().toSeq === st.stats.get.collect().toSeq)
    // zero rows the optimizer cannot see (a filter over a parquet scan):
    // the save writes the parquet and observes the zero itself
    val tombPath = s"$dir/tombs_in"
    door.tombstones(docs(Seq(7L -> 0)).select(col("doc_id")), 3L)
      .write.parquet(tombPath)
    val runtimeEmpty = spark.read.parquet(tombPath)
      .where(col("upto_gen") > 3L)
    val stR = st.copy(tombstones = runtimeEmpty)
    assert(Maintenance.saveState(stR, s"$dir/stateR") === 0L)
    assert(new java.io.File(s"$dir/stateR/tombstones").exists(),
      "a tombstone table not proven empty must be written")
    val stR2 = Maintenance.loadState(spark, s"$dir/stateR")
    assert(stR2.tombstones.schema === runtimeEmpty.schema)
    assert(stR2.tombstones.count() === 0L)
    // the reloaded empty tombstones behave exactly like the in-memory
    // zero-row frame under a real tick (guard joins, demotion, fold)
    val storeA = new Maintenance.FrameStore(Bm25Index.stampGen(p0, 0L))
    val storeB = new Maintenance.FrameStore(Bm25Index.stampGen(p0, 0L))
    def runTick(s0v: Maintenance.State,
                store: Maintenance.Store): Maintenance.State =
      Maintenance.tick(door, store, s0v,
        adds = docs(Seq(40L -> 0)),
        deletes = docs(Seq(1L -> 0)),
        updates = docs(Seq(2L -> 1)),
        updatesOld = Some(docs(Seq(2L -> 0))))
    val a = runTick(st, storeA)
    val b = runTick(st2, storeB)
    assert(a.stats.get.collect().toSeq === b.stats.get.collect().toSeq)
    assert(a.tombstones.orderBy("doc_id").collect().toSeq
      === b.tombstones.orderBy("doc_id").collect().toSeq)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
