package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Bm25Index, Maintenance, Retrieval, Similarity,
  VectorLeg}
import graft.streaming.IndexMaintenanceStream

/** The memory-bounded PQ serving tier, round 17: the exact-rerank TAIL
  * on the persisted code-store probes, the PQ-backed hybrid store
  * facades, and the frozen-quantizer persistence that makes a restart
  * safe. Pinned invariants:
  *
  *  - rerank tail with rerankC covering the probed candidate pool ≡
  *    the full-vector probe at the same nprobe (the tail's scores are
  *    the full-vector scores — float→double widening is exact);
  *  - PQ-leg-served hybrid ≡ full-vector-served hybrid when rerankC
  *    covers legK's candidate pool (the r16 verdict's done-criterion);
  *  - per tier (IVF, PQ, SQ8, SQ8-adaptive), the store facade's scalar
  *    query and the query inside a batch serve the single (B = 1)
  *    answer;
  *  - on every tier, the scalar probe ≡ the batch probe of one query,
  *    with strictly fewer Spark actions (no cell-resolution job);
  *  - a door reconstructed from the PERSISTED quantizer serves the
  *    pre-restart answer; a re-trained (different-table) door fails
  *    fast in applyBatch AND viewAt instead of silently re-keying;
  *  - the code-store recall sweep is monotone in rerankC and reaches
  *    exact recall at full probe + full rerank;
  *  - a zero-action writer degrades the append observation to
  *    keep-the-dir, LOGGED and counted, under the config-pinned
  *    timeout.
  */
class PqStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import TestSpark.countActions

  private val nBuckets = 16
  private val qTerms = Seq("alpha", "gamma", "epsilon")
  private val vocab = Vector("alpha", "beta", "gamma", "delta",
    "epsilon", "zeta", "eta")

  private def text(id: Long, ver: Int): String =
    (0 to (id % 9).toInt + 2).map { j =>
      vocab(((id * 2654435761L + ver * 99991L + j * 40503L)
        % vocab.size).toInt.abs)
    }.mkString(" ")

  private def docs(n: Int): DataFrame =
    (0L until n.toLong).map(id => (id, text(id, 0))).toDF("doc_id", "text")

  private def embeddings(n: Int): DataFrame =
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        (((i * 31 + d * 13) % 100) / 50.0f) - 1f))
    }.toDF("vec_id", "embedding")

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy(df.columns.map(col): _*).collect().map(_.toSeq).toSeq

  test("rerank tail covering the candidate pool ≡ the full-vector " +
      "probe at the same nprobe (scores bit-identical)") {
    val emb = embeddings(120)
    val q = emb.where(col("vec_id") < 4)
    val cents = Similarity.centroids(emb, 8)
    val cbs = Similarity.pqCodebooks(emb, 4, 8)
    val pqIndex = Similarity.ivfPqAssign(emb, cents, cbs)
    val fullIndex = Similarity.ivfAssign(emb, cents)
    val reranked = VectorLeg.Pq(pqIndex, cents, cbs, nprobe = 3,
      Some((1000, emb.select(col("vec_id"), col("embedding")))))
      .batch(q, 5)
    val exact = VectorLeg.Ivf(fullIndex, cents, nprobe = 3).batch(q, 5)
    assert(rows(reranked) === rows(exact),
      "a pool-covering rerank tail must serve the full-vector probe")
    // the residual store's tail obeys the same contract
    val rcbs = Similarity.ivfPqResidualTrain(emb, cents, 4, 8, 1)
    val rIndex = Similarity.ivfPqResidualAssign(emb, cents, rcbs)
    val rReranked = VectorLeg.PqResidual(rIndex, cents, rcbs, nprobe = 3,
      Some((1000, emb.select(col("vec_id"), col("embedding")))))
      .batch(q, 5)
    assert(rows(rReranked) === rows(exact),
      "the residual store's pool-covering tail must agree too")
  }

  test("filtered rerank tail: the mask slices the ADC pool, so the " +
      "tail equals the filtered full-vector probe when it covers") {
    val emb = embeddings(120)
    val q = emb.where(col("vec_id") < 4)
    val cents = Similarity.centroids(emb, 8)
    val cbs = Similarity.pqCodebooks(emb, 4, 8)
    val allowed = emb.where(col("vec_id") % 3 === 0).select("vec_id")
    val reranked = VectorLeg.Pq(Similarity.ivfPqAssign(emb, cents, cbs),
      cents, cbs, nprobe = 3,
      Some((1000, emb.select(col("vec_id"), col("embedding")))))
      .batch(q, 5, Some(allowed))
    val exact = VectorLeg.Ivf(Similarity.ivfAssign(emb, cents), cents, 3)
      .batch(q, 5, Some(allowed))
    assert(rows(reranked) === rows(exact))
  }

  /** Bootstrap the three stores (BM25 postings, PQ codes, full
    * vectors) and run one mixed mutation batch through each — the
    * deployment triple the PQ hybrid facades serve from. Returns
    * (bmDoor, bmDir, pqDoor, pqDir, vecDoor, vecDir, cents, cbs). */
  private def storeTriple(d: DataFrame, emb: DataFrame)
      : (Maintenance.Bm25Door, String, Maintenance.IvfPqDoor, String,
         Maintenance.IvfDoor, String, Seq[(Long, Array[Double])],
         Array[Array[Array[Double]]]) = {
    val bmDoor = new Maintenance.Bm25Door(col("text"), nBuckets)
    val bmDir = java.nio.file.Files
      .createTempDirectory("pqspec-bm").toString
    IndexMaintenanceStream.bootstrap(spark, bmDoor, bmDir,
      Bm25Index.write, d)
    val oldV: DataFrame => DataFrame =
      u => u.select(col("doc_id"), col("old_text").as("text"))
    val bmBatch = d.where(col("doc_id") % 7 === 2)
      .select(lit("delete").as("op"), col("doc_id"), col("text"),
        lit(null).cast("string").as("old_text"))
      .unionByName(d.where(col("doc_id") % 11 === 5)
        .select(lit("add").as("op"), (col("doc_id") + 1000L).as("doc_id"),
          col("text"), lit(null).cast("string").as("old_text")))
    IndexMaintenanceStream.applyBatch(spark, bmDoor, bmDir,
      Bm25Index.write, bmBatch, 0L, Some(oldV))

    val cents = Similarity.centroids(emb, 8)
    val cbs = Similarity.pqCodebooks(emb, 4, 8)
    def cellWrite(df: DataFrame, dst: String, mode: String): Unit =
      df.write.partitionBy("cell").mode(mode).parquet(dst)
    val vBatch = emb.where(col("vec_id") % 7 === 2)
      .select(lit("delete").as("op"), col("vec_id"), col("embedding"))
      .unionByName(emb.where(col("vec_id") % 11 === 5)
        .select(lit("add").as("op"), (col("vec_id") + 1000L).as("vec_id"),
          col("embedding")))
      .unionByName(emb.where(col("vec_id") % 6 === 3)
        .select(lit("update").as("op"), col("vec_id"),
          reverse(col("embedding")).as("embedding")))
    val pqDoor = new Maintenance.IvfPqDoor(cents, cbs)
    val pqDir = java.nio.file.Files
      .createTempDirectory("pqspec-pq").toString
    IndexMaintenanceStream.bootstrap(spark, pqDoor, pqDir, cellWrite, emb)
    IndexMaintenanceStream.applyBatch(spark, pqDoor, pqDir, cellWrite,
      vBatch, 0L)
    val vecDoor = new Maintenance.IvfDoor(cents)
    val vecDir = java.nio.file.Files
      .createTempDirectory("pqspec-vec").toString
    IndexMaintenanceStream.bootstrap(spark, vecDoor, vecDir, cellWrite,
      emb)
    IndexMaintenanceStream.applyBatch(spark, vecDoor, vecDir, cellWrite,
      vBatch, 0L)
    (bmDoor, bmDir, pqDoor, pqDir, vecDoor, vecDir, cents, cbs)
  }

  private def dropDirs(dirs: String*): Unit = dirs.foreach(d =>
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))

  /** One query `qid` (its `emb` row, `qTerms`) through the store facade
    * as a batch of one: `(doc_id, rrf_ppm, n_legs)`, k = 10, legK = 12. */
  private def single(bmDoor: Maintenance.Door, bmDir: String,
                     leg: VectorLeg.Stored, emb: DataFrame, qid: Long,
                     allowed: Option[DataFrame] = None): DataFrame =
    Retrieval.storeHybrid(spark, bmDoor, bmDir, nBuckets, leg,
      Retrieval.BatchQuery(emb.where(col("vec_id") === qid),
        Seq(qid -> qTerms)), k = 10, legK = 12, allowed = allowed)
      .select("doc_id", "rrf_ppm", "n_legs")

  private def vectorOf(emb: DataFrame, qid: Long): Seq[Double] =
    emb.where(col("vec_id") === qid).select("embedding").collect().head
      .getSeq[Float](0).map(_.toDouble)

  /** The tier's three query shapes agree through the store facade: the
    * SCALAR query `(qid, vector)` and `qid`'s rows of a BATCH with
    * other queries serve the single (B = 1) answer. */
  private def assertShapesAgree(tier: String, bmDoor: Maintenance.Door,
                                bmDir: String, leg: VectorLeg.Stored,
                                emb: DataFrame, qid: Long,
                                allowed: Option[DataFrame] = None): Unit = {
    val one = rows(single(bmDoor, bmDir, leg, emb, qid, allowed))
    assert(one.nonEmpty, s"$tier: fixture served nothing")
    val scalar = Retrieval.storeHybrid(spark, bmDoor, bmDir, nBuckets, leg,
      Retrieval.ScalarQuery(qid, vectorOf(emb, qid), qTerms), k = 10,
      legK = 12, allowed = allowed)
    assert(rows(scalar.select("doc_id", "rrf_ppm", "n_legs")) === one,
      s"$tier: the scalar query changed the single-query answer")
    val qids = Seq(1L, 4L, qid).distinct
    val batch = Retrieval.storeHybrid(spark, bmDoor, bmDir, nBuckets, leg,
      Retrieval.BatchQuery(emb.where(col("vec_id").isin(qids: _*)),
        qids.map(_ -> qTerms)), k = 10, legK = 12, allowed = allowed)
    assert(rows(batch.where(col("qid") === qid)
        .select("doc_id", "rrf_ppm", "n_legs")) === one,
      s"$tier: the batched facade diverged from the single-query answer")
  }

  test("PQ-leg-served hybrid ≡ full-vector-served hybrid when rerankC " +
      "covers the candidate pool; the scalar door agrees") {
    val d = docs(90)
    val emb = embeddings(90)
    val (bmDoor, bmDir, pqDoor, pqDir, vecDoor, vecDir, cents, cbs) =
      storeTriple(d, emb)
    val pqLeg = VectorLeg.pqStore(pqDoor, pqDir, cents, cbs, vecDoor,
      vecDir, nprobe = 3, rerankC = 1000)
    val pqServed = single(bmDoor, bmDir, pqLeg, emb, 2L)
    val fullServed = single(bmDoor, bmDir,
      VectorLeg.ivfStore(vecDoor, vecDir, cents, 3), emb, 2L)
    assert(rows(pqServed) === rows(fullServed),
      "a pool-covering PQ leg must serve the full-vector hybrid answer")
    // the scalar query and the batched facade serve the same answer
    // through the same stores
    assertShapesAgree("PQ", bmDoor, bmDir, pqLeg, emb, 2L)
    // the delegate the benchmark harness calls is the same facade
    val delegate = Retrieval.hybridFromStoresPqBatch(spark, bmDoor, bmDir,
      nBuckets, pqDoor, pqDir, cents, cbs, vecDoor, vecDir,
      emb.where(col("vec_id") === 2L), Seq(2L -> qTerms), k = 10,
      legK = 12, rerankC = 1000, nprobe = 3)
    assert(rows(delegate.select("doc_id", "rrf_ppm", "n_legs")) ===
      rows(pqServed), "hybridFromStoresPqBatch diverged from the facade")
    dropDirs(bmDir, pqDir, vecDir)
  }

  test("PQ-tier batched-FILTERED hybrid ≡ the per-query filtered door " +
      "per qid (the mask slices the ADC pool AND its rerank tail, " +
      "batch amortization changes nothing)") {
    val d = docs(90)
    val emb = embeddings(90)
    val (bmDoor, bmDir, pqDoor, pqDir, vecDoor, vecDir, cents, cbs) =
      storeTriple(d, emb)
    val qids = Seq(1L, 2L, 4L)
    val qs = emb.where(col("vec_id").isin(qids: _*))
    val allowed = d.where(col("doc_id") % 3 === 0).select("doc_id")
    val pqLeg = VectorLeg.pqStore(pqDoor, pqDir, cents, cbs, vecDoor,
      vecDir, nprobe = 3, rerankC = 40)
    val batch = Retrieval.storeHybrid(spark, bmDoor, bmDir, nBuckets,
      pqLeg, Retrieval.BatchQuery(qs, qids.map(_ -> qTerms)), k = 10,
      legK = 12, allowed = Some(allowed))
    qids.foreach { qid =>
      val alone = single(bmDoor, bmDir, pqLeg, emb, qid, Some(allowed))
      assert(rows(batch.where(col("qid") === qid)
          .select("doc_id", "rrf_ppm", "n_legs")) === rows(alone),
        s"qid $qid: batched-filtered diverged from per-query filtered")
      // and the mask is real: every served id is in the slice
      assert(batch.where(col("qid") === qid &&
        col("doc_id") % 3 =!= 0).count() === 0L)
    }
    // the scalar query under the same mask serves the same slice
    assertShapesAgree("PQ filtered", bmDoor, bmDir, pqLeg, emb, 2L,
      Some(allowed))
    dropDirs(bmDir, pqDir, vecDir)
  }

  test("adaptive-tier hybrid facade: marginPpm=0 serves the SQ8 " +
      "hybrid, a covering margin with covering rerankC serves the " +
      "full-vector hybrid — three stores at one min-committed batch") {
    val d = docs(90)
    val emb = embeddings(90)
    val bmDoor = new Maintenance.Bm25Door(col("text"), nBuckets)
    val bmDir = java.nio.file.Files
      .createTempDirectory("pqspec-ada-bm").toString
    IndexMaintenanceStream.bootstrap(spark, bmDoor, bmDir,
      Bm25Index.write, d)
    val oldV: DataFrame => DataFrame =
      u => u.select(col("doc_id"), col("old_text").as("text"))
    val bmBatch = d.where(col("doc_id") % 7 === 2)
      .select(lit("delete").as("op"), col("doc_id"), col("text"),
        lit(null).cast("string").as("old_text"))
    IndexMaintenanceStream.applyBatch(spark, bmDoor, bmDir,
      Bm25Index.write, bmBatch, 0L, Some(oldV))
    val cents = Similarity.centroids(emb, 8)
    def cellWrite(df: DataFrame, dst: String, mode: String): Unit =
      df.write.partitionBy("cell").mode(mode).parquet(dst)
    val vBatch = emb.where(col("vec_id") % 7 === 2)
      .select(lit("delete").as("op"), col("vec_id"), col("embedding"))
    val sq8Door = new Maintenance.IvfSq8Door(cents)
    val sq8Dir = java.nio.file.Files
      .createTempDirectory("pqspec-ada-sq8").toString
    IndexMaintenanceStream.bootstrap(spark, sq8Door, sq8Dir, cellWrite,
      emb)
    IndexMaintenanceStream.applyBatch(spark, sq8Door, sq8Dir, cellWrite,
      vBatch, 0L)
    val vecDoor = new Maintenance.IvfDoor(cents)
    val vecDir = java.nio.file.Files
      .createTempDirectory("pqspec-ada-vec").toString
    IndexMaintenanceStream.bootstrap(spark, vecDoor, vecDir, cellWrite,
      emb)
    IndexMaintenanceStream.applyBatch(spark, vecDoor, vecDir, cellWrite,
      vBatch, 0L)
    def adaptive(marginPpm: Long, rerankC: Int) =
      VectorLeg.sq8AdaptiveStore(sq8Door, sq8Dir, cents, vecDoor, vecDir,
        nprobe = 3, rerankC = rerankC, marginPpm = marginPpm)
    val ivfLeg = VectorLeg.ivfStore(vecDoor, vecDir, cents, 3)
    val sq8Hybrid = single(bmDoor, bmDir,
      VectorLeg.sq8Store(sq8Door, sq8Dir, cents, 3), emb, 2L)
    assert(rows(single(bmDoor, bmDir, adaptive(0L, 40), emb, 2L)) ===
      rows(sq8Hybrid), "marginPpm=0 must serve the bare SQ8-tier hybrid")
    val fullHybrid = single(bmDoor, bmDir, ivfLeg, emb, 2L)
    assert(rows(single(bmDoor, bmDir, adaptive(Long.MaxValue, 1000), emb,
        2L)) === rows(fullHybrid),
      "a covering margin + covering rerankC must serve the " +
        "full-vector hybrid")
    // the IVF and adaptive legs serve every query shape alike
    assertShapesAgree("IVF", bmDoor, bmDir, ivfLeg, emb, 2L)
    assertShapesAgree("SQ8-adaptive", bmDoor, bmDir,
      adaptive(Long.MaxValue, 40), emb, 2L)
    dropDirs(bmDir, sq8Dir, vecDir)
  }

  test("restart from disk: a door reconstructed from the persisted " +
      "quantizer serves the pre-restart answer; a re-trained door " +
      "fails fast in viewAt AND applyBatch") {
    val d = docs(60)
    val emb = embeddings(60)
    val (_, bmDir, pqDoor, pqDir, vecDoor, vecDir, cents, cbs) =
      storeTriple(d, emb)
    val q = emb.where(col("vec_id") < 3)
    def probe(door: Maintenance.Door): Seq[Seq[Any]] = {
      val (view, _) = IndexMaintenanceStream.viewAt(spark, door, pqDir,
        IndexMaintenanceStream.committedBatch(spark, pqDir))
      rows(VectorLeg.Pq(view, cents, cbs, 3).batch(q, 5))
    }
    val before = probe(pqDoor)
    // "restart": a NEW door built from nothing but the persisted tables
    val loaded = IndexMaintenanceStream.loadQuantizer(spark, pqDir)
    assert(loaded.contentHash === pqDoor.quantizer.get.contentHash,
      "the persisted quantizer round-tripped to a different identity")
    assert(loaded.cents.map(_._1) === cents.map(_._1))
    assert(loaded.cents.zip(cents).forall { case ((_, a), (_, b)) =>
      java.util.Arrays.equals(a, b) }, "centroid bits drifted")
    val restarted = new Maintenance.IvfPqDoor(loaded.cents,
      loaded.codebooks.get)
    assert(probe(restarted) === before,
      "the restarted door serves a different answer — re-keying")
    // a RE-TRAINED door (different tables — here: perturbed centroids)
    // must fail fast instead of silently re-keying appended rows
    val drifted = new Maintenance.IvfPqDoor(
      cents.map { case (id, v) => (id, v.map(_ * 1.000001)) }, cbs)
    val exV = intercept[IllegalArgumentException] {
      IndexMaintenanceStream.viewAt(spark, drifted, pqDir,
        IndexMaintenanceStream.committedBatch(spark, pqDir))
    }
    assert(exV.getMessage.contains("re-key"))
    val batch = emb.limit(1)
      .select(lit("delete").as("op"), col("vec_id"), col("embedding"))
    val exA = intercept[IllegalArgumentException] {
      IndexMaintenanceStream.applyBatch(spark, drifted, pqDir,
        (df, dst, m) => df.write.partitionBy("cell").mode(m).parquet(dst),
        batch, 1L)
    }
    assert(exA.getMessage.contains("re-key"))
    dropDirs(bmDir, pqDir, vecDir)
  }

  test("a FOREIGN re-bootstrap of the same dir with new tables stales " +
      "an already-validated door: its very next view fails fast — the " +
      "identity rides every state snapshot's meta, so there is no " +
      "per-JVM validated-pair cache to go stale against") {
    val emb = embeddings(60)
    val cents = Similarity.centroids(emb, 8)
    val cbs = Similarity.pqCodebooks(emb, 4, 8)
    val doorA = new Maintenance.IvfPqDoor(cents, cbs)
    val dir = java.nio.file.Files
      .createTempDirectory("pqspec-foreign").toString
    def cellWrite(df: DataFrame, dst: String, mode: String): Unit =
      df.write.partitionBy("cell").mode(mode).parquet(dst)
    IndexMaintenanceStream.bootstrap(spark, doorA, dir, cellWrite, emb)
    // doorA validates — the shape the r17 cache would have memoized
    IndexMaintenanceStream.viewAt(spark, doorA, dir,
      IndexMaintenanceStream.committedBatch(spark, dir))._1.count()
    // "another JVM" re-seeds the SAME dir under re-trained tables
    val centsB = cents.map { case (id, v) => (id, v.map(_ * 1.000001)) }
    val doorB = new Maintenance.IvfPqDoor(centsB, cbs)
    IndexMaintenanceStream.bootstrap(spark, doorB, dir, cellWrite, emb)
    // the stale doorA must fail on its NEXT view, same JVM, no restart
    val ex = intercept[IllegalArgumentException] {
      IndexMaintenanceStream.viewAt(spark, doorA, dir,
        IndexMaintenanceStream.committedBatch(spark, dir))
    }
    assert(ex.getMessage.contains("re-key"))
    // and the new door serves
    assert(IndexMaintenanceStream.viewAt(spark, doorB, dir,
      IndexMaintenanceStream.committedBatch(spark, dir))._1.count() > 0)
    dropDirs(dir)
  }

  /** Clustered + heavy-tailed embeddings — SQ8's HARD case: each
    * cluster has one dominant component, so absmax quantization
    * crushes the discriminating small components onto few int8 levels
    * and the rounding CAN reorder a top-k near the cut line (uniform
    * vectors, where components share magnitude, are close to SQ8's
    * best case — the r17 ledger's fixture). */
  private def clusteredEmbeddings(n: Int): DataFrame =
    (0 until n).map { i =>
      val c = i % 4
      (i.toLong, Array.tabulate(8) { d =>
        val dom = if (d == c * 2) 60.0f else 0.0f
        dom + (((i * 31 + d * 13) % 100) / 50.0f - 1f)
      })
    }.toDF("vec_id", "embedding")

  test("SQ8 rerank tail covering the candidate pool ≡ the full-vector " +
      "probe at the same nprobe; the scalar door with the same tail " +
      "agrees; rerankC < k refuses") {
    val emb = clusteredEmbeddings(120)
    val q = emb.where(col("vec_id") < 4)
    val cents = Similarity.centroids(emb, 8)
    val sq8Index = Similarity.sq8Assign(emb, cents)
    val fullIndex = Similarity.ivfAssign(emb, cents)
    val vectors = emb.select(col("vec_id"), col("embedding"))
    val tailed = VectorLeg.Sq8(sq8Index, cents, nprobe = 3,
      rerank = Some((1000, vectors)))
    val reranked = tailed.batch(q, 5)
    val exact = VectorLeg.Ivf(fullIndex, cents, nprobe = 3).batch(q, 5)
    assert(rows(reranked) === rows(exact),
      "a pool-covering SQ8 tail must serve the full-vector probe")
    // the bare int8 probe DIFFERS on this fixture — the tail is doing
    // real work here, not vacuously agreeing
    val bare = VectorLeg.Sq8(sq8Index, cents, nprobe = 3).batch(q, 5)
    assert(rows(bare) !== rows(exact),
      "fixture too easy: int8 rounding reordered nothing, the tail " +
        "is untested")
    // scalar door, same tail, same answer
    val qv = q.where(col("vec_id") === 2L)
      .select(col("embedding").cast("array<double>")).collect()
      .head.getSeq[Double](0)
    val scalar = tailed.scalar(2L, qv, 5)
    assert(rows(scalar) === rows(reranked.where(col("qid") === 2L)))
    intercept[IllegalArgumentException] {
      VectorLeg.Sq8(sq8Index, cents, nprobe = 3,
        rerank = Some((3, vectors))).batch(q, 5)
    }
  }

  test("margin-routed adaptive rerank: marginPpm=0 is the bare int8 " +
      "probe, covering margin is the full rerank door, and a mid " +
      "threshold routes EACH query to exactly one of the two — with " +
      "both routes actually taken on the clustered fixture") {
    val emb = clusteredEmbeddings(160)
    val q = emb.where(col("vec_id") < 8)
    val cents = Similarity.centroids(emb, 8)
    val sq8Index = Similarity.sq8Assign(emb, cents)
    val vectors = emb.select(col("vec_id"), col("embedding"))
    def adaptive(marginPpm: Long) = VectorLeg.Sq8Adaptive(sq8Index, cents,
      nprobe = 3, rerankC = 30, marginPpm = marginPpm, vectors = vectors)
      .batch(q, 5)
    val bare = VectorLeg.Sq8(sq8Index, cents, 3).batch(q, 5)
    val fullTail = VectorLeg.Sq8(sq8Index, cents, 3,
      rerank = Some((30, vectors))).batch(q, 5)
    assert(rows(adaptive(0L)) === rows(bare),
      "marginPpm=0 must serve the bare int8 probe (no query routes)")
    assert(rows(adaptive(Long.MaxValue)) === rows(fullTail),
      "a covering margin must serve the full rerank door")
    // mid threshold — picked off the measured margin census, the way a
    // deployment tunes the knob: the median margin splits the queries,
    // so BOTH routes must occur. Per query the answer is EITHER the
    // bare probe's rows or the rerank door's — never a third thing.
    val margins = Similarity.sq8CutMargins(q, sq8Index, cents, k = 5,
      nprobe = 3, rerankC = 30)
      .collect().flatMap(r =>
        if (r.isNullAt(1)) None else Some(r.getLong(1))).sorted
    assert(margins.length >= 4, "census fixture too small")
    val mid = adaptive(margins(margins.length / 2))
    val qids = q.select("vec_id").collect().map(_.getLong(0))
    var (nBare, nTail) = (0, 0)
    qids.foreach { id =>
      val m = rows(mid.where(col("qid") === id))
      val b = rows(bare.where(col("qid") === id))
      val t = rows(fullTail.where(col("qid") === id))
      assert(m === b || m === t,
        s"qid $id: adaptive answer is neither route's")
      if (m == t && b != t) nTail += 1
      else if (m == b) nBare += 1
    }
    assert(nTail > 0, "no query routed to the tail — threshold dead")
    assert(nBare > 0, "every query routed — threshold vacuous")
  }

  test("annRecallSweep over SQ8 legs: the int8 curve is " +
      "recall-monotone-capped " +
      "by the same sweep with the covering tail at every nprobe, and " +
      "the tail sweep at full probe reaches exact recall") {
    val emb = clusteredEmbeddings(120)
    val q = emb.where(col("vec_id") < 5)
    val cents = Similarity.centroids(emb, 8)
    val index = Similarity.sq8Assign(emb, cents)
    val exact = Similarity.bruteForceTopK(q, emb, 5)
      .select(col("qid"), col("nid"))
    val vectors = emb.select(col("vec_id"), col("embedding"))
    def recalls(rerank: Option[(Int, DataFrame)]) =
      Retrieval.annRecallSweep(q, Seq("nprobe"), Seq(1, 2, 4, 8).map(np =>
        Seq(np.toLong) -> VectorLeg.Sq8(index, cents, np, rerank)), 5,
        exact).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val bare = recalls(None)
    val tailed = recalls(Some((1000, vectors)))
    Seq(1L, 2L, 4L, 8L).foreach { np =>
      assert(bare(np) <= tailed(np),
        s"nprobe $np: the covering tail must not lose recall")
    }
    assert(tailed(8L) === 1000000L,
      "full probe + covering tail must reproduce brute force")
  }

  test("annRecallSweep over PQ legs: recall monotone in rerankC at " +
      "fixed nprobe; " +
      "full probe + covering rerank reaches exact recall") {
    val emb = embeddings(120)
    val q = emb.where(col("vec_id") < 5)
    val cents = Similarity.centroids(emb, 8)
    val cbs = Similarity.pqCodebooks(emb, 4, 8)
    val index = Similarity.ivfPqAssign(emb, cents, cbs)
    val exact = Similarity.bruteForceTopK(q, emb, 5)
      .select(col("qid"), col("nid"))
    val vectors = emb.select(col("vec_id"), col("embedding"))
    val sweep = Retrieval.annRecallSweep(q, Seq("nprobe", "rerank_c"),
      Seq((2, 5), (2, 20), (8, 5), (8, 1000)).map { case (np, rc) =>
        Seq(np.toLong, rc.toLong) ->
          VectorLeg.Pq(index, cents, cbs, np, Some((rc, vectors)))
      }, 5, exact)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    val byPoint = sweep.map { case (np, rc, rec) => (np, rc) -> rec }.toMap
    assert(byPoint((2L, 5L)) <= byPoint((2L, 20L)),
      "recall must not decrease as the rerank pool widens")
    assert(byPoint((8L, 1000L)) === 1000000L,
      "full probe + covering rerank must reproduce brute force exactly")
  }

  test("every tier's scalar probe ≡ its batch of one, masked and " +
      "unmasked, with strictly fewer Spark actions (no cell-resolution " +
      "job; query-side tables built from the LocalRelation)") {
    // the query frame must be PARQUET-backed like a deployment's: a
    // local-relation frame folds the batch's cell resolution into the
    // driver, hiding exactly the cut being measured
    val qdir = java.nio.file.Files
      .createTempDirectory("pqspec-scalarq").toString
    embeddings(120).write.mode("overwrite").parquet(qdir)
    val emb = spark.read.parquet(qdir)
    val cents = Similarity.centroids(emb, 8)
    val cbs = Similarity.pqCodebooks(emb, 4, 8)
    val rcbs = Similarity.ivfPqResidualTrain(emb, cents, 4, 8, 1)
    // indexes, side table and mask shared eagerly so no probe pays a build
    val ivf = Similarity.ivfAssign(emb, cents).localCheckpoint()
    val pq = Similarity.ivfPqAssign(emb, cents, cbs).localCheckpoint()
    val pqr = Similarity.ivfPqResidualAssign(emb, cents, rcbs)
      .localCheckpoint()
    val sq8 = Similarity.sq8Assign(emb, cents).localCheckpoint()
    val vectors = emb.select(col("vec_id"), col("embedding"))
      .localCheckpoint()
    val allowed = emb.where(col("vec_id") % 3 === 0).select("vec_id")
      .localCheckpoint()
    val tail = Some((20, vectors))
    val legs = Seq(
      "IVF" -> VectorLeg.Ivf(ivf, cents, 3),
      "PQ" -> VectorLeg.Pq(pq, cents, cbs, 3),
      "PQ+tail" -> VectorLeg.Pq(pq, cents, cbs, 3, tail),
      "PQ-residual" -> VectorLeg.PqResidual(pqr, cents, rcbs, 3),
      "SQ8" -> VectorLeg.Sq8(sq8, cents, 3),
      "SQ8+tail" -> VectorLeg.Sq8(sq8, cents, 3, tail),
      "SQ8-adaptive" -> VectorLeg.Sq8Adaptive(sq8, cents, 3, 20, 3000L,
        vectors))
    val qVec = vectorOf(emb, 2L)
    for ((tier, leg) <- legs; mask <- Seq(None, Some(allowed))) {
      val shape = s"$tier${mask.fold("")(_ => " masked")}"
      var batch: Seq[Seq[Any]] = Nil
      val (bActs, bJobs) = countActions {
        batch = rows(leg.batch(emb.where(col("vec_id") === 2L), 5, mask))
      }
      var scalar: Seq[Seq[Any]] = Nil
      val (sActs, sJobs) = countActions {
        scalar = rows(leg.scalar(2L, qVec, 5, mask))
      }
      info(s"$shape: batch $bActs actions [$bJobs jobs], " +
        s"scalar $sActs [$sJobs]")
      assert(scalar.nonEmpty, s"$shape: fixture served nothing")
      assert(scalar === batch,
        s"$shape: the scalar probe changed the single-query answer")
      assert(sActs < bActs, s"$shape: the scalar probe ran $sActs " +
        s"actions vs the batch probe's $bActs — the cell-resolution cut " +
        "disappeared")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(qdir))
  }

  test("the IVF probe over a double-typed query frame serves the " +
      "float-frame answer (both sides widen exactly)") {
    val emb = embeddings(120)
    val cents = Similarity.centroids(emb, 8)
    val leg = VectorLeg.Ivf(Similarity.ivfAssign(emb, cents), cents, 3)
    val q = emb.where(col("vec_id") < 4)
    val qd = q.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val allowed = Some(emb.where(col("vec_id") % 3 === 0).select("vec_id"))
    assert(rows(leg.batch(qd, 5)) === rows(leg.batch(q, 5)))
    assert(rows(leg.batch(qd, 5, allowed)) ===
      rows(leg.batch(q, 5, allowed)))
  }

  test("the rerank refetch is PARTITION-PRUNED when the side table " +
      "carries the store's cell column — and the answer equals the " +
      "plain-table refetch") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{
      AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case o => o.children.flatMap(scans)
    }
    val emb = embeddings(200)
    val cents = Similarity.centroids(emb, 8)
    val cbs = Similarity.pqCodebooks(emb, 4, 8)
    val codeDir = java.nio.file.Files
      .createTempDirectory("pqspec-code").toString
    val vecDir = java.nio.file.Files
      .createTempDirectory("pqspec-vecs").toString
    Similarity.ivfPqAssign(emb, cents, cbs)
      .write.partitionBy("cell").mode("overwrite").parquet(codeDir)
    Similarity.ivfAssign(emb, cents)
      .write.partitionBy("cell").mode("overwrite").parquet(vecDir)
    val code = spark.read.parquet(codeDir)
    val vectors = spark.read.parquet(vecDir)
    val all = vectors.select("nid")
    all.collect()
    val allFiles = scans(all.queryExecution.executedPlan)
      .head.metrics("numFiles").value
    assert(allFiles >= 8, s"fixture too small: $allFiles files")
    val q = emb.where(col("vec_id") === 2L)
    val res = VectorLeg.Pq(code, cents, cbs, nprobe = 2,
      Some((20, vectors))).batch(q, 5)
    val got = res.collect().map(_.toSeq).toSeq
    val marker = new java.io.File(vecDir).getName
    val vscan = scans(res.queryExecution.executedPlan).find(
      _.relation.location.rootPaths.exists(_.toString.contains(marker)))
      .getOrElse(fail("no full-vector scan in the rerank plan"))
    // one query × nprobe 2 → the refetch reads ≤ 2 of the 8 cell dirs
    val refetchFiles = vscan.metrics("numFiles").value
    assert(refetchFiles < allFiles && refetchFiles <= allFiles / 4 * 2,
      s"refetch pruning failed: read $refetchFiles of $allFiles files")
    // pruning is answer-invariant: the plain (id, embedding) side
    // table — never pruned — serves the identical top-k
    val plain = VectorLeg.Pq(code, cents, cbs, nprobe = 2,
      Some((20, emb.select(col("vec_id"), col("embedding")))))
      .batch(q, 5).collect().map(_.toSeq).toSeq
    assert(got === plain)
    dropDirs(codeDir, vecDir)
  }

  test("SQ8-tier hybrid: the scalar and batched facades serve the " +
      "DataFrame door's answer from the same two maintained stores, " +
      "and the vector leg equals the hand-composed int8 probe") {
    val d = docs(90)
    val emb = embeddings(90)
    def cellWrite(df: DataFrame, dst: String, mode: String): Unit =
      df.write.partitionBy("cell").mode(mode).parquet(dst)
    val bmDoor = new Maintenance.Bm25Door(col("text"), nBuckets)
    val bmDir = java.nio.file.Files
      .createTempDirectory("pqspec-sq8bm").toString
    IndexMaintenanceStream.bootstrap(spark, bmDoor, bmDir,
      Bm25Index.write, d)
    val oldV: DataFrame => DataFrame =
      u => u.select(col("doc_id"), col("old_text").as("text"))
    val bmBatch = d.where(col("doc_id") % 7 === 2)
      .select(lit("delete").as("op"), col("doc_id"), col("text"),
        lit(null).cast("string").as("old_text"))
    IndexMaintenanceStream.applyBatch(spark, bmDoor, bmDir,
      Bm25Index.write, bmBatch, 0L, Some(oldV))
    val cents = Similarity.centroids(emb, 8)
    val sq8Door = new Maintenance.IvfSq8Door(cents)
    val sq8Dir = java.nio.file.Files
      .createTempDirectory("pqspec-sq8st").toString
    IndexMaintenanceStream.bootstrap(spark, sq8Door, sq8Dir, cellWrite,
      emb)
    val vBatch = emb.where(col("vec_id") % 7 === 2)
      .select(lit("delete").as("op"), col("vec_id"), col("embedding"))
    IndexMaintenanceStream.applyBatch(spark, sq8Door, sq8Dir, cellWrite,
      vBatch, 0L)
    val q = emb.where(col("vec_id") === 2L)
    val sq8Leg = VectorLeg.sq8Store(sq8Door, sq8Dir, cents, 3)
    val df = single(bmDoor, bmDir, sq8Leg, emb, 2L)
    // the vector leg IS the hand-composed int8 probe over the store
    val (view, _) = IndexMaintenanceStream.viewAt(spark, sq8Door,
      sq8Dir, 0L)
    val (bmView, bmStats) = IndexMaintenanceStream.viewAt(spark, bmDoor,
      bmDir, 0L)
    val hand = Retrieval.rrfFuse(Seq(
      Retrieval.rankLex(Bm25Index.search(bmView, bmStats.get, qTerms,
        12, nBuckets)),
      VectorLeg.Sq8(view, cents, 3).batch(q, 12)
        .select(col("nid").as("doc_id"), col("rank"))), 10)
    assert(rows(df) === rows(hand))
    assertShapesAgree("SQ8", bmDoor, bmDir, sq8Leg, emb, 2L)
    dropDirs(bmDir, sq8Dir)
  }

  test("reseed: the scheduled-rebuild door migrates the full-vector " +
      "store's committed view into a new tier under NEW persisted " +
      "tables, the feed resumes on the new store, and the old door " +
      "cannot serve it") {
    val emb = embeddings(90)
    def cellWrite(df: DataFrame, dst: String, mode: String): Unit =
      df.write.partitionBy("cell").mode(mode).parquet(dst)
    val cents = Similarity.centroids(emb, 8)
    val vecDoor = new Maintenance.IvfDoor(cents)
    val vecDir = java.nio.file.Files
      .createTempDirectory("pqspec-reseed-vec").toString
    IndexMaintenanceStream.bootstrap(spark, vecDoor, vecDir, cellWrite,
      emb)
    val b0 = emb.where(col("vec_id") % 7 === 2)
      .select(lit("delete").as("op"), col("vec_id"), col("embedding"))
      .unionByName(emb.where(col("vec_id") % 11 === 5)
        .select(lit("add").as("op"), (col("vec_id") + 1000L).as("vec_id"),
          col("embedding")))
    IndexMaintenanceStream.applyBatch(spark, vecDoor, vecDir, cellWrite,
      b0, 0L)
    // drift remedy: migrate into a PQ-code store under re-seeded tables
    val cents4 = Similarity.centroids(emb, 4)
    val cbs = Similarity.pqCodebooks(emb, 4, 8)
    val pqDoor = new Maintenance.IvfPqDoor(cents4, cbs)
    val newDir = java.nio.file.Files
      .createTempDirectory("pqspec-reseed-pq").toString
    val asOf = IndexMaintenanceStream.reseed(spark, vecDoor, vecDir,
      pqDoor, newDir, cellWrite)
    assert(asOf === 0L, "reseed must capture the committed batch")
    // the NEW tables persisted with the new store from batch 0
    assert(IndexMaintenanceStream.loadQuantizer(spark, newDir)
      .contentHash === pqDoor.quantizer.get.contentHash)
    val q = emb.where(col("vec_id") < 3)
    val mutated = emb.where(col("vec_id") % 7 =!= 2)
      .unionByName(emb.where(col("vec_id") % 11 === 5)
        .select((col("vec_id") + 1000L).as("vec_id"), col("embedding")))
    def served(): Seq[Seq[Any]] = {
      val (view, _) = IndexMaintenanceStream.currentView(spark, pqDoor,
        newDir)
      rows(VectorLeg.Pq(view, cents4, cbs, 2).batch(q, 5))
    }
    assert(served() === rows(VectorLeg.Pq(
      Similarity.ivfPqAssign(mutated, cents4, cbs), cents4, cbs, 2)
      .batch(q, 5)),
      "the migrated store diverged from the new-table rebuild")
    // the feed resumes: the next mutation batch applies to the NEW
    // store through the same gen machinery
    val b1 = mutated.where(col("vec_id") % 5 === 1)
      .select(lit("delete").as("op"), col("vec_id"), col("embedding"))
    IndexMaintenanceStream.applyBatch(spark, pqDoor, newDir, cellWrite,
      b1, 1L)
    assert(served() === rows(VectorLeg.Pq(
      Similarity.ivfPqAssign(mutated.where(col("vec_id") % 5 =!= 1),
        cents4, cbs), cents4, cbs, 2).batch(q, 5)),
      "post-reseed mutations diverged from the rebuild-on-survivors")
    // the OLD door's tables are not the new store's identity
    val ex = intercept[IllegalArgumentException] {
      IndexMaintenanceStream.viewAt(spark, vecDoor, newDir, 1L)
    }
    assert(ex.getMessage.contains("re-key"))
    dropDirs(vecDir, newDir)
  }

  test("cutover under a LIVE feed: the feed keeps committing batches " +
      "to the old store through reseed and the chase, parks on the " +
      "sentinel, resumes on the new store — and NO batch is lost (the " +
      "hand-rolled contract's hazard, now an operator)") {
    val emb = embeddings(90)
    def cellWrite(df: DataFrame, dst: String, mode: String): Unit =
      df.write.partitionBy("cell").mode(mode).parquet(dst)
    val cents = Similarity.centroids(emb, 8)
    val vecDoor = new Maintenance.IvfDoor(cents)
    val vecDir = java.nio.file.Files
      .createTempDirectory("pqspec-cut-vec").toString
    val newDir = java.nio.file.Files
      .createTempDirectory("pqspec-cut-pq").toString
    val servingDir = java.nio.file.Files
      .createTempDirectory("pqspec-cut-ptr").toString
    IndexMaintenanceStream.bootstrap(spark, vecDoor, vecDir, cellWrite,
      emb)
    graft.streaming.DocsStream.swapPointer(spark, servingDir, vecDir)
    val cents4 = Similarity.centroids(emb, 4)
    val cbs = Similarity.pqCodebooks(emb, 4, 8)
    val pqDoor = new Maintenance.IvfPqDoor(cents4, cbs)
    val NBatches = 6
    // batch b (micro-batch ids start at 0, the tailer's numbering)
    // deletes the vec_id % 31 == b+1 slice — disjoint, replayable
    def batch(b: Long): DataFrame =
      emb.where(col("vec_id") % 31 === b + 1L)
        .select(lit("delete").as("op"), col("vec_id"), col("embedding"))
    // THE FEED (its documented contract): sequential; reads the
    // serving pointer before each batch; polls while it reads the
    // sentinel; applies to the dir the pointer names with that dir's
    // door
    @volatile var feedErr: Throwable = null
    val feedDone = new java.util.concurrent.CountDownLatch(1)
    val feed = new Thread(() => {
      try (0 until NBatches).foreach { b =>
        var ptr = graft.streaming.DocsStream
          .readPointer(spark, servingDir).get
        while (ptr == IndexMaintenanceStream.CutoverSentinel) {
          Thread.sleep(25)
          ptr = graft.streaming.DocsStream
            .readPointer(spark, servingDir).get
        }
        val door: Maintenance.Door =
          if (ptr == vecDir) vecDoor else pqDoor
        IndexMaintenanceStream.applyBatch(spark, door, ptr, cellWrite,
          batch(b.toLong), b.toLong)
      } catch { case t: Throwable => feedErr = t }
      finally feedDone.countDown()
    })
    feed.start()
    Thread.sleep(300) // let the feed get moving against the OLD store
    val asOf = IndexMaintenanceStream.reseed(spark, vecDoor, vecDir,
      pqDoor, newDir, cellWrite)
    val headAtRepoint = IndexMaintenanceStream.cutover(spark, pqDoor,
      newDir, vecDir, cellWrite, batch, servingDir, asOf,
      graceMs = 8000)
    assert(feedDone.await(180, java.util.concurrent.TimeUnit.SECONDS),
      "feed never finished — parked forever?")
    assert(feedErr == null, s"feed thread failed: $feedErr")
    assert(asOf < NBatches,
      "reseed captured everything — the replay path went unexercised")
    assert(headAtRepoint >= asOf)
    assert(graft.streaming.DocsStream.readPointer(spark, servingDir)
      .contains(newDir), "serving must point at the new store")
    assert(IndexMaintenanceStream.committedBatch(spark, newDir)
      === NBatches.toLong - 1L, "a batch was lost across the cutover")
    // the migrated + replayed + resumed store equals the from-scratch
    // encode of the survivors under the NEW tables
    val survivors = emb.where(!(col("vec_id") % 31)
      .isin((1 to NBatches).map(_.toLong): _*))
    val q = emb.where(col("vec_id") < 3)
    val (view, _) = IndexMaintenanceStream.currentView(spark, pqDoor,
      newDir)
    assert(rows(VectorLeg.Pq(view, cents4, cbs, 2).batch(q, 5)) ===
      rows(VectorLeg.Pq(Similarity.ivfPqAssign(survivors, cents4, cbs),
        cents4, cbs, 2).batch(q, 5)),
      "the cut-over store diverged from the rebuild-on-survivors")
    // a replay of the COMPLETED cutover is a quick no-op
    assert(IndexMaintenanceStream.cutover(spark, pqDoor, newDir, vecDir,
      cellWrite, batch, servingDir, asOf) === NBatches.toLong - 1L)
    dropDirs(vecDir, newDir, servingDir)
  }

  test("SQ8 quantization is per-vector scale-invariant (the cosine " +
      "probe's contract): a uniformly rescaled corpus quantizes to " +
      "identical int8 rows and identical top-k") {
    val emb = embeddings(100)
    val cents = Similarity.centroids(emb, 8)
    val scaled = emb.select(col("vec_id"),
      transform(col("embedding"), v => v * lit(3.0f)).as("embedding"))
    // qv identical under rescale (absmax scales with the components)
    val a = rows(Similarity.sq8Assign(emb, cents)
      .select(col("nid"), col("qv")))
    val b = rows(Similarity.sq8Assign(scaled,
      Similarity.centroids(scaled, 8)).select(col("nid"), col("qv")))
    assert(a === b, "rescaling the corpus changed the int8 codes")
    val q = emb.where(col("vec_id") < 3)
    val topA = rows(Similarity.sq8TopKIndexed(q,
      Similarity.sq8Assign(emb, cents), cents, 5, 3))
    val topB = rows(Similarity.sq8TopKIndexed(
      q.select(col("vec_id"),
        transform(col("embedding"), v => v * lit(3.0f)).as("embedding")),
      Similarity.sq8Assign(scaled, Similarity.centroids(scaled, 8)),
      Similarity.centroids(scaled, 8), 5, 3))
    assert(topA === topB, "rescaling changed the SQ8 ranking")
  }

  test("a zero-action writer degrades the append observation to " +
      "keep-the-dir under the config-pinned timeout, counted and " +
      "logged — never a hang") {
    val dir = java.nio.file.Files
      .createTempDirectory("pqspec-obs").toString
    spark.conf.set("spark.graft.appendObserveTimeoutSec", "1")
    try {
      val store = new IndexMaintenanceStream.VersionedStore(spark, dir,
        (_, _, _) => (), // runs NO Spark action — the degradation arm
        upToBatch = 0L)
      val before = IndexMaintenanceStream.appendObserveTimeouts.get()
      val delta = Seq((1L, "x")).toDF("doc_id", "text")
      store.append(delta) // must return (bounded wait), not hang
      assert(IndexMaintenanceStream.appendObserveTimeouts.get() ===
        before + 1,
        "the timeout arm must be counted — silent degradation")
    } finally {
      spark.conf.unset("spark.graft.appendObserveTimeoutSec")
      dropDirs(dir)
    }
  }
}
