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

  /** `df` written to parquet at `path` and read back: its `op` column
    * becomes data the optimizer cannot see through. */
  private def viaParquet(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  test("applyBatch action budget (BM25 door): a non-compacting batch " +
      "the optimizer proves delete-only runs at most 2 Spark actions, " +
      "any other batch at most 4") {
    val dir = java.nio.file.Files.createTempDirectory("jobbudget").toString
    val door = new Maintenance.Bm25Door(col("text"), nBuckets)
    val corpus = docs((0L until 60L).map(_ -> 0))
    IndexMaintenanceStream.bootstrap(spark, door, dir, Bm25Index.write,
      corpus)
    val stored = viaParquet(corpus, s"$dir/in/corpus")
    var batchId = -1L
    def acts(batch: DataFrame): (Int, Seq[String]) = {
      batchId += 1
      val (a, jobs, sites) = countActionsNamed {
        IndexMaintenanceStream.applyBatch(spark, door, dir,
          Bm25Index.write, batch, batchId, Some(oldVersion),
          maxDeltaBytesRatio = 1e9) // non-compacting by construction
      }
      // raw job count is AQE-stage-inflated (one job per materialized
      // stage) — bounded loosely so a runaway (per-row or per-tombstone
      // job) still fails while plan-shape drift doesn't flake
      assert(jobs <= 4 * a + 6, s"applyBatch ran $jobs raw jobs for $a " +
        "actions")
      (a, sites)
    }
    def mixed(base: Long) = muts(
      (base + 60L until base + 63L).map(id => ("add", id, 0, None)) ++
        (base until base + 3L).map(id => ("delete", id, 0, None)) ++
        (base + 10L until base + 13L).map(id =>
          ("update", id, 1, Some(0))))
    def deletes(from: Long) =
      muts((from until from + 3L).map(id => ("delete", id, 0, None)))
    // the floor for a batch of local rows that carries add/update rows,
    // itemized: delta append write (1, the shared tokenization's lazy
    // checkpoint runs inside it) + stats fold collect (1) + saveState
    // tombstone write (1) = 3. r19 paid a fourth, a limit-1 probe for
    // add/update rows, now replaced by the optimizer's own proof. r19
    // also removed r17's separate compactNeeded count: the trigger reads
    // the tombstone row count OBSERVED inside the saveState write
    // itself. r16 paid one more — a separate saveState stats parquet
    // write; r15 paid 4 more on top: a load-time stats snap collect, an
    // eager tombstone localCheckpoint, and two schema-inference footer
    // jobs. A regression that adds a per-batch action must raise a
    // number here consciously.
    val (mixedLocal, s0) = acts(mixed(0L))
    assert(mixedLocal <= 3, s"mixed local-rows applyBatch ran " +
      s"$mixedLocal actions: ${s0.mkString("; ")}")
    // delete-only local rows: the add/update legs fold to an empty
    // LocalRelation, so the checkpoint and the append go: stats fold
    // collect (1) + tombstone write (1)
    val (delLocal, s1) = acts(deletes(20L))
    assert(delLocal <= 2, s"delete-only local-rows applyBatch ran " +
      s"$delLocal actions: ${s1.mkString("; ")}")
    // literal-op delete branches over a parquet scan prove empty too
    val (delLit, s2) = acts(stored
      .where(col("doc_id") >= 30L && col("doc_id") < 33L)
      .select(lit("delete").as("op"), col("doc_id"), col("text"),
        lit(null).cast("string").as("old_text")))
    assert(delLit <= 2, s"delete-only literal-op applyBatch ran " +
      s"$delLit actions: ${s2.mkString("; ")}")
    // op read from parquet: nothing is proven, every shape is indexed
    // and appended, and over a scan the tokenization checkpoint runs
    // under its own execution id: checkpoint (1) + append write (1) +
    // stats fold collect (1) + tombstone write (1) = 4 (r19: 5, the
    // probe)
    val (mixedPq, s3) = acts(viaParquet(mixed(100L), s"$dir/in/mixed"))
    assert(mixedPq <= 4, s"mixed parquet-op applyBatch ran $mixedPq " +
      s"actions: ${s3.mkString("; ")}")
    // a delete-only batch whose op is parquet data pays the same append
    // path on zero rows: the empty tokenization checkpoint (1) + the
    // append write, whose observed count of 0 drops the delta dir (1) +
    // stats fold collect (1) + tombstone write (1) = 4 — one more than
    // r19's probe (1) + stats (1) + tombstone write (1)
    val (delPq, s4) = acts(viaParquet(deletes(40L), s"$dir/in/deletes"))
    assert(delPq === 4, s"delete-only parquet-op applyBatch ran " +
      s"$delPq actions: ${s4.mkString("; ")}")
    assert(!new java.io.File(s"$dir/store/delta_b$batchId").exists(),
      "the zero-row delta dir must be dropped by its observed count")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("applyBatch action budget (IVF door): the append write replaces " +
      "the r19 probe — 1 action for a proven delete-only batch, 2 for " +
      "any other") {
    val dir = java.nio.file.Files.createTempDirectory("jobbudget-ivf")
      .toString
    def vmuts(rows: Seq[(String, Long)]): DataFrame =
      rows.map { case (op, id) => (op, id,
        Array.tabulate(8)(d => (((id * 31 + d * 13) % 100) / 50.0f) - 1f))
      }.toDF("op", "vec_id", "embedding")
    val emb = embeddings(60)
    val door = new Maintenance.IvfDoor(Similarity.centroids(emb, 4))
    def cellWrite(df: DataFrame, dst: String, mode: String): Unit =
      df.write.partitionBy("cell").mode(mode).parquet(dst)
    IndexMaintenanceStream.bootstrap(spark, door, dir, cellWrite, emb)
    var batchId = -1L
    def acts(batch: DataFrame): (Int, Seq[String]) = {
      batchId += 1
      val (a, _, sites) = countActionsNamed {
        IndexMaintenanceStream.applyBatch(spark, door, dir, cellWrite,
          batch, batchId, maxDeltaBytesRatio = 1e9)
      }
      (a, sites)
    }
    // no stats door: the tombstone write (1), plus the delta append
    // write (1) unless the optimizer proves the batch delete-only. r19
    // paid a probe on top of each: 2, 3, 2
    val (delLocal, s0) = acts(vmuts((0L until 3L).map("delete" -> _)))
    assert(delLocal === 1, s0.mkString("; "))
    val (mixedPq, s1) = acts(viaParquet(vmuts(
      (60L until 63L).map("add" -> _) ++ (3L until 6L).map("delete" -> _)),
      s"$dir/in/mixed"))
    assert(mixedPq === 2, s1.mkString("; "))
    // op as parquet data on a delete-only batch: the write observes
    // zero rows and drops its dir
    val (delPq, s2) = acts(viaParquet(
      vmuts((6L until 9L).map("delete" -> _)), s"$dir/in/deletes"))
    assert(delPq === 2, s2.mkString("; "))
    assert(!new java.io.File(s"$dir/store/delta_b$batchId").exists())
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
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
