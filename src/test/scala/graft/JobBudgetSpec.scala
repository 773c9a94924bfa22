package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{Bm25Index, Maintenance, Retrieval, Similarity}
import graft.streaming.IndexMaintenanceStream

/** SPARK-JOB budgets for the serving/maintenance hot paths — the
  * scheduler-work twin of the CountingFs FS-op budget. Each micro-batch
  * and each single-query serving call pays a FIXED number of Spark jobs
  * regardless of data size; that fixed overhead dominates small-batch
  * latency (the tailer fixture: ~15 jobs of machinery per applied
  * batch measured in r15), so the budget is pinned here the way the
  * ≤2-listings budget is — a regression adds a job and fails the spec,
  * instead of silently adding scheduler latency per batch. */
class JobBudgetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import TestSpark.{countActions, countActionsNamed}

  private val nBuckets = 16
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

  private def muts(rows: Seq[(String, Long, Int, Option[Int])]): DataFrame =
    rows.map { case (op, id, v, oldV) =>
      (op, id, text(id, v), oldV.map(text(id, _)).orNull)
    }.toDF("op", "doc_id", "text", "old_text")

  private val oldVersion: DataFrame => DataFrame =
    u => u.select(col("doc_id"), col("old_text").as("text"))

  private def embeddings(n: Int) =
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(8)(d =>
        (((i * 31 + d * 13) % 100) / 50.0f) - 1f))
    }.toDF("vec_id", "embedding")

  test("applyBatch action budget: a mixed (non-compacting) mutation " +
      "batch runs at most 5 Spark actions (4 with the op-census hint); " +
      "delete-only at most 3 (2 with the hint)") {
    val dir = java.nio.file.Files.createTempDirectory("jobbudget").toString
    val door = new Maintenance.Bm25Door(col("text"), nBuckets)
    IndexMaintenanceStream.bootstrap(spark, door, dir, Bm25Index.write,
      docs((0L until 60L).map(_ -> 0)))
    val b0 = muts(
      (60L until 63L).map(id => ("add", id, 0, None)) ++
        (0L until 3L).map(id => ("delete", id, 0, None)) ++
        (10L until 13L).map(id => ("update", id, 1, Some(0))))
    val (acts, jobs) = countActions {
      IndexMaintenanceStream.applyBatch(spark, door, dir,
        Bm25Index.write, b0, 0L, Some(oldVersion),
        maxDeltaBytesRatio = 1e9) // non-compacting by construction
    }
    // the r19 floor, itemized: delta-empty probe (1) + the shared
    // tokenization's lazy checkpoint materializing under its own
    // execution id (1) + delta append write (1) + stats fold collect
    // (1) + saveState tombstone write (1) = 5. r19 removed r17's
    // separate compactNeeded count: the trigger now reads the tombstone
    // row count OBSERVED inside the saveState write itself (same
    // number, same decision, one fewer action). r16 paid one more — a
    // separate saveState stats parquet write; the 1-row stats now ride
    // in state.meta. r15 paid 4 more on top: a load-time stats snap
    // collect, an eager tombstone localCheckpoint, and two
    // schema-inference footer jobs. A regression that adds a per-batch
    // action must raise this number consciously.
    assert(acts <= 5, s"applyBatch ran $acts actions — the fixed " +
      "per-batch machinery budget is 5 (delta probe, checkpoint, " +
      "append, stats fold, one observed state write)")
    // raw job count is AQE-stage-inflated (one job per materialized
    // stage) — bounded loosely so a runaway (per-row or per-tombstone
    // job) still fails while plan-shape drift doesn't flake
    assert(jobs <= 4 * acts + 6,
      s"applyBatch ran $jobs raw jobs for $acts actions")
    // a DELETE-ONLY batch skips the append write job AND the shared
    // tokenization checkpoint whole: budget 3
    val b1 = muts((20L until 23L).map(id => ("delete", id, 0, None)))
    val (delActs, _) = countActions {
      IndexMaintenanceStream.applyBatch(spark, door, dir,
        Bm25Index.write, b1, 1L, Some(oldVersion),
        maxDeltaBytesRatio = 1e9)
    }
    assert(delActs <= 3, s"delete-only applyBatch ran $delActs " +
      "actions — the deltaEmpty door must skip the append write job")
    // the OP-CENSUS HINT (knownDeltaEmpty): a caller that knows the
    // batch's ops skips the probe job too — one fewer action on both
    // shapes, same store contents (pinned below by the replay-identical
    // store dirs)
    val b2 = muts(
      (70L until 73L).map(id => ("add", id, 0, None)) ++
        (30L until 33L).map(id => ("delete", id, 0, None)))
    val (hintActs, _, hintSites) = countActionsNamed {
      IndexMaintenanceStream.applyBatch(spark, door, dir,
        Bm25Index.write, b2, 2L, Some(oldVersion),
        maxDeltaBytesRatio = 1e9, knownDeltaEmpty = Some(false))
    }
    assert(hintActs <= 4, s"hinted mixed applyBatch ran $hintActs " +
      "actions — the op-census hint must remove the probe job: " +
      hintSites.mkString("; "))
    val b3 = muts((40L until 43L).map(id => ("delete", id, 0, None)))
    val (hintDelActs, _) = countActions {
      IndexMaintenanceStream.applyBatch(spark, door, dir,
        Bm25Index.write, b3, 3L, Some(oldVersion),
        maxDeltaBytesRatio = 1e9, knownDeltaEmpty = Some(true))
    }
    assert(hintDelActs <= 2, s"hinted delete-only applyBatch ran " +
      s"$hintDelActs actions — probe and append must both disappear")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("knownDeltaEmpty hint changes no store content: hinted and " +
      "probed replays of the same batches serve identical rows") {
    val door = new Maintenance.Bm25Door(col("text"), nBuckets)
    val b0 = muts(
      (60L until 64L).map(id => ("add", id, 0, None)) ++
        (0L until 3L).map(id => ("delete", id, 0, None)) ++
        (10L until 13L).map(id => ("update", id, 1, Some(0))))
    val b1 = muts((20L until 24L).map(id => ("delete", id, 0, None)))
    def run(hints: Seq[Option[Boolean]]): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
      val dir = java.nio.file.Files
        .createTempDirectory("jobbudget-hint").toString
      IndexMaintenanceStream.bootstrap(spark, door, dir, Bm25Index.write,
        docs((0L until 60L).map(_ -> 0)))
      IndexMaintenanceStream.applyBatch(spark, door, dir,
        Bm25Index.write, b0, 0L, Some(oldVersion),
        knownDeltaEmpty = hints(0))
      IndexMaintenanceStream.applyBatch(spark, door, dir,
        Bm25Index.write, b1, 1L, Some(oldVersion),
        knownDeltaEmpty = hints(1))
      val (live, stats) =
        IndexMaintenanceStream.currentView(spark, door, dir)
      val rows = live.orderBy("doc_id", "term", "gen")
        .collect().map(_.toSeq).toSeq
      val st = stats.get.collect().map(_.toSeq).toSeq
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      (rows, st)
    }
    val (probedRows, probedStats) = run(Seq(None, None))
    val (hintedRows, hintedStats) =
      run(Seq(Some(false), Some(true)))
    assert(hintedRows === probedRows,
      "the op-census hint changed the served rows")
    assert(hintedStats === probedStats,
      "the op-census hint changed the corpus stats")
  }

  test("scalar single-query door: same answer as the DataFrame door " +
      "with at least two fewer Spark jobs (no guard probe, no " +
      "cell-resolution job)") {
    val corpus = docs((0L until 90L).map(_ -> 0))
    // queries must be PARQUET-backed like a deployment's: a local-
    // relation query frame collapses the guard's limit-2 collect to a
    // job-free driver fold, hiding exactly the cut being measured
    val qdir = java.nio.file.Files.createTempDirectory("scalarq").toString
    embeddings(90).write.mode("overwrite").parquet(qdir)
    val emb = spark.read.parquet(qdir)
    val cents = Similarity.centroids(emb, 8)
    val index = Similarity.ivfAssign(emb, cents)
      .localCheckpoint() // shared eagerly so neither door pays the build
    val (p0, s0) = Bm25Index.build(corpus, col("doc_id"), col("text"),
      nBuckets)
    val postings = p0.localCheckpoint()
    val stats = s0.localCheckpoint()
    val qVec = emb.where(col("vec_id") === 2L)
      .select("embedding").collect().head
      .getSeq[Float](0).map(_.toDouble)

    var dfAnswer: Seq[Seq[Any]] = Nil
    val (dfActs, _) = countActions {
      dfAnswer = Retrieval.hybridTopKIndexed(postings, stats, nBuckets,
        index, cents, emb.where(col("vec_id") === 2L), qTerms,
        k = 10, legK = 12, nprobe = 4)
        .collect().map(_.toSeq).toSeq
    }
    var scAnswer: Seq[Seq[Any]] = Nil
    val (scActs, _) = countActions {
      scAnswer = Retrieval.hybridTopKIndexedScalar(postings, stats,
        nBuckets, index, cents, 2L -> qVec, qTerms,
        k = 10, legK = 12, nprobe = 4)
        .collect().map(_.toSeq).toSeq
    }
    assert(scAnswer === dfAnswer,
      "the scalar door changed the single-query answer")
    assert(scAnswer.nonEmpty)
    // the DataFrame door pays the limit-2 guard collect (one action);
    // the scalar door resolves single-query-ness at compile time and
    // probe cells driver-side (the same compiled argmax) — strictly
    // fewer actions on the same answer
    assert(scActs < dfActs,
      s"scalar door ran $scActs actions vs DataFrame door's $dfActs — " +
        "the guard/cell-resolution cut disappeared")
    // filtered variant agrees with the filtered DataFrame door too
    val allowed = corpus.where(col("doc_id") % 3 === 0).select("doc_id")
    val dfF = Retrieval.hybridTopKIndexedFiltered(postings, stats,
      nBuckets, index, cents, emb.where(col("vec_id") === 2L), qTerms,
      allowed, k = 10, legK = 12, nprobe = 4)
      .collect().map(_.toSeq).toSeq
    val scF = Retrieval.hybridTopKIndexedScalar(postings, stats,
      nBuckets, index, cents, 2L -> qVec, qTerms,
      k = 10, legK = 12, nprobe = 4, allowed = Some(allowed))
      .collect().map(_.toSeq).toSeq
    assert(scF === dfF,
      "the scalar door changed the FILTERED single-query answer")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(qdir))
  }

  test("probeCellsScalar is bit-identical to the expression's cell " +
      "resolution (same compiled argmax, driver-side)") {
    val emb = embeddings(120)
    val cents = Similarity.centroids(emb, 16)
    val viaExpr = emb.select(col("vec_id"),
      graft.functions.NearestCentroids.nearest_centroids(
        col("embedding"), cents, 4).as("cells"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val vecs = emb.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
    vecs.foreach { case (id, v) =>
      assert(Similarity.probeCellsScalar(v, cents, 4) === viaExpr(id),
        s"vec $id resolved different probe cells driver-side")
    }
  }
}
