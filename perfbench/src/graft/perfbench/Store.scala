package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Bm25Index, Maintenance, Retrieval, Similarity}
import graft.streaming.{DocsStream, IndexMaintenanceStream}

/** `store-serve`: three versioned stores kept by
  * [[IndexMaintenanceStream]] (BM25 postings, PQ codes, full vectors),
  * bootstrapped from the generated corpus. Each round applies one
  * mutation batch to all three stores and then makes a fixed number of
  * [[Retrieval.hybridFromStoresPqBatch]] calls at the min-committed
  * batch, half of them with an allowed-id mask. */
final class Store(spark: SparkSession, inputDir: String, workDir: String, seconds: Double,
                  trace: Option[Trace], res: Result) {
  private val NBuckets = 8
  private val NCells = 16
  private val PqM = 8
  private val PqK = 16
  private val K = 10
  private val LegK = 20
  private val RerankC = 100
  private val NProbe = 4
  // every batch compacts all three stores, so compaction fires three
  // times in a run of one batch
  private val MaxDeltas = 1

  private val root = s"$workDir/stores"
  private val bmDir = s"$root/bm"
  private val pqDir = s"$root/pq"
  private val vecDir = s"$root/vec"

  private def cellWrite(df: DataFrame, dst: String, mode: String): Unit =
    df.write.partitionBy("cell").mode(mode).parquet(dst)

  def run(): Unit = {
    import spark.implicits._
    val model = new ObjectMapper().readTree(new File(s"$inputDir/model.json"))
    val batches = model.get("batches").elements().asScala.toVector
    val docs = spark.read.parquet(s"$inputDir/docs.parquet")
    val vecs = spark.read.parquet(s"$inputDir/vecs.parquet")
    val cents = Similarity.centroids(vecs, NCells)
    val cbs = Similarity.pqCodebooks(vecs, PqM, PqK)
    val bmDoor = new Maintenance.Bm25Door(col("text"), NBuckets)
    val pqDoor = new Maintenance.IvfPqDoor(cents, cbs)
    val vecDoor = new Maintenance.IvfDoor(cents)
    val (_, bootMs) = Clock.time {
      IndexMaintenanceStream.bootstrap(spark, bmDoor, bmDir, Bm25Index.write(_, _, _), docs)
      IndexMaintenanceStream.bootstrap(spark, pqDoor, pqDir, cellWrite, vecs)
      IndexMaintenanceStream.bootstrap(spark, vecDoor, vecDir, cellWrite, vecs)
    }
    Main.log(f"stores bootstrapped in ${bootMs / 1000}%.1fs at uptime ${Main.uptimeS}%.1fs")
    val timeouts0 = IndexMaintenanceStream.appendObserveTimeouts.get
    val live = scala.collection.mutable.Set.empty[Long] ++ (0L until model.get("base").asLong)
    val maxId = model.get("base").asLong + batches.map(_.get("adds").size).sum
    val mask = spark.range(0, maxId).where(col("id") % 2 === 0).toDF("doc_id")
    val oldText: DataFrame => DataFrame = u => u.select(col("doc_id"), col("old_text").as("text"))

    val write, readLat, apply, view = new Samples
    var rows = 0L
    var timedMs = 0.0

    /** One batched hybrid call at the min-committed batch; returns
      * (qid, doc_id, rank) rows and the latency. */
    def call(c: JsonNode): (Array[(Long, Long, Long)], Double) = {
      val qs = c.get("queries").elements().asScala.toVector
      val qv = qs.map(q => (q.get("qid").asLong,
        q.get("vec").elements().asScala.map(_.floatValue).toArray)).toDF("vec_id", "embedding")
      val terms = qs.map(q => q.get("qid").asLong -> q.get("terms").elements().asScala
        .map(_.asText).toSeq)
      val allowed = if (c.get("masked").asBoolean) Some(mask) else None
      trace.foreach { _ =>
        spark.sparkContext.setLocalProperty(Trace.KindProperty, "engine")
        val (_, vMs) = Clock.time {
          val asOf = Seq(bmDir, pqDir, vecDir).map(IndexMaintenanceStream.committedBatch(spark, _)).min
          IndexMaintenanceStream.viewAt(spark, bmDoor, bmDir, asOf)
          IndexMaintenanceStream.viewAt(spark, pqDoor, pqDir, asOf)
          IndexMaintenanceStream.viewAt(spark, vecDoor, vecDir, asOf)
        }
        view.add(vMs)
      }
      spark.sparkContext.setLocalProperty(Trace.KindProperty, "read")
      val (got, ms) = Clock.time(traced("read") {
        Retrieval.hybridFromStoresPqBatch(spark, bmDoor, bmDir, NBuckets, pqDoor, pqDir,
          cents, cbs, vecDoor, vecDir, qv, terms, K, LegK, RerankC, NProbe,
          allowed = allowed).collect()
      })
      res.count(true)
      spark.sparkContext.setLocalProperty(Trace.KindProperty, "check")
      (got.map(r => (r.getAs[Long]("qid"), r.getAs[Long]("doc_id"), r.getAs[Long]("rank"))), ms)
    }

    // untimed warm-up on the bootstrapped stores: a pool-covering call
    // checked against the full-vector hybrid
    checkEquivalence(-1, batches(0).get("calls").get(0), bmDoor, pqDoor, vecDoor, cents, cbs)
    val setupS = Main.uptimeS
    val gc0 = Main.gcMs
    var b = 0
    while (b < batches.size && (b == 0 || timedMs < seconds * 1000)) {
      val bj = batches(b)
      val bmBatch = spark.read.parquet(f"$inputDir/batch_$b%04d_bm.parquet")
      val vecBatch = spark.read.parquet(f"$inputDir/batch_$b%04d_vec.parquet")
      spark.sparkContext.setLocalProperty(Trace.KindProperty, "write")
      def applied(f: => Unit): Unit = apply.add(Clock.time(f)._2)
      val (_, wMs) = Clock.time(traced("write") {
        applied(IndexMaintenanceStream.applyBatch(spark, bmDoor, bmDir, Bm25Index.write(_, _, _),
          bmBatch, b.toLong, Some(oldText), maxDeltas = MaxDeltas))
        applied(IndexMaintenanceStream.applyBatch(spark, pqDoor, pqDir, cellWrite, vecBatch,
          b.toLong, maxDeltas = MaxDeltas))
        applied(IndexMaintenanceStream.applyBatch(spark, vecDoor, vecDir, cellWrite, vecBatch,
          b.toLong, maxDeltas = MaxDeltas))
      })
      res.count(true)
      bj.get("deletes").elements().asScala.foreach(n => live -= n.asLong)
      bj.get("adds").elements().asScala.foreach(n => live += n.asLong)
      write.add(wMs); timedMs += wMs; rows += bj.get("rows").asLong
      for (c <- bj.get("calls").elements().asScala) {
        val (got, ms) = call(c)
        readLat.add(ms); timedMs += ms
        checkCall(b, c.get("queries").elements().asScala.toVector, got,
          c.get("masked").asBoolean, live)
      }
      spark.sparkContext.setLocalProperty(Trace.KindProperty, null)
      b += 1
    }
    val gcWindow = Main.gcMs - gc0
    val heap = Main.heapUsedMb()
    Main.log(s"${write.size} timed batches, ${readLat.size} timed calls: " +
      readLat.values.map(v => f"$v%.0f").mkString(" ") + " ms")

    val rs = readLat.values
    res.put("setup_s", setupS, "s")
    res.put("read_p50_ms", Stats.median(rs), "ms")
    res.put("reads_per_s", rs.size / (readLat.sum / 1000.0), "1/s")
    res.put("heap_used_mb", heap, "MB")
    trace.foreach { t =>
      res.put("write_p50_ms", Stats.median(write.values), "ms")
      res.put("write_rows_per_s", rows / (write.sum / 1000.0), "rows/s")
      val files = Store.files(new File(root))
      res.put("disk_mb", files.map(_.length).sum / 1048576.0, "MB")
      res.put("streaming.store_files", files.size.toDouble, "count")
      res.put("streaming.bootstrap_s", bootMs / 1000.0, "s")
      res.put("streaming.apply_ms", Stats.median(apply.values), "ms")
      res.put("streaming.compactions", Seq(bmDir, pqDir, vecDir).map { d =>
        val v = DocsStream.readPointer(spark, s"$d/state").get
        Maintenance.loadStateWithProps(spark, s"$d/state/$v")._1.compactions
      }.sum.toDouble, "count")
      res.put("streaming.observe_timeouts",
        (IndexMaintenanceStream.appendObserveTimeouts.get - timeouts0).toDouble, "count")
      res.put("pipeline.view_ms", Stats.median(view.values), "ms")
      res.put("jvm.gc_ms", gcWindow.toDouble, "ms")
      t.report(res)
    }
  }

  private def traced[T](kind: String)(f: => T): T = trace.fold(f)(_.op(kind)(f))

  /** Every qid gets k results ranked 1..k, every id is live in the
    * benchmark's model (and allowed, under a mask), a fresh add's marker
    * query returns it and a deleted doc's never does. */
  private def checkCall(b: Int, qs: Seq[JsonNode], got: Array[(Long, Long, Long)],
                        masked: Boolean, live: scala.collection.Set[Long]): Unit = {
    val byQ = got.groupBy(_._1)
    for (q <- qs) {
      val qid = q.get("qid").asLong
      val rs = byQ.getOrElse(qid, Array.empty)
      res.check(rs.map(_._3).sorted.toSeq == (1L to K).toSeq,
        s"batch $b qid $qid: ranks ${rs.map(_._3).sorted.mkString(",")}")
      rs.foreach { case (_, id, _) =>
        res.check(live(id), s"batch $b qid $qid: returned $id, which is not live")
        res.check(!masked || id % 2 == 0, s"batch $b qid $qid: returned $id outside the mask")
      }
      if (q.has("must")) res.check(rs.exists(_._2 == q.get("must").asLong),
        s"batch $b qid $qid: the fresh add ${q.get("must").asLong} was not returned")
      if (q.has("never")) res.check(!rs.exists(_._2 == q.get("never").asLong),
        s"batch $b qid $qid: the deleted doc ${q.get("never").asLong} was returned")
    }
  }

  /** With a rerank pool that covers every probed candidate, the PQ-tier
    * answer equals the full-vector hybrid over the same stores. */
  private def checkEquivalence(b: Int, call: JsonNode, bmDoor: Maintenance.Door,
                               pqDoor: Maintenance.Door, vecDoor: Maintenance.Door,
                               cents: Seq[(Long, Array[Double])],
                               cbs: Array[Array[Array[Double]]]): Unit = {
    import spark.implicits._
    val qs = call.get("queries").elements().asScala.toVector
    val qv = qs.map(q => (q.get("qid").asLong,
      q.get("vec").elements().asScala.map(_.floatValue).toArray)).toDF("vec_id", "embedding")
    val terms = qs.map(q => q.get("qid").asLong -> q.get("terms").elements().asScala
      .map(_.asText).toSeq)
    def rows(df: DataFrame) = df.select("qid", "doc_id", "rrf_ppm", "n_legs", "rank")
      .collect().map(_.toSeq.mkString(",")).sorted.toSeq
    val pq = rows(Retrieval.hybridFromStoresPqBatch(spark, bmDoor, bmDir, NBuckets, pqDoor,
      pqDir, cents, cbs, vecDoor, vecDir, qv, terms, K, LegK, rerankC = 1000000, NProbe))
    val full = rows(Retrieval.hybridFromStoresBatch(spark, bmDoor, bmDir, NBuckets, vecDoor,
      vecDir, cents, qv, terms, K, LegK, NProbe))
    res.count(true)
    res.check(pq == full, s"batch $b: the pool-covering PQ answer differs from the " +
      s"full-vector hybrid (${pq.diff(full).take(3).mkString("; ")})")
  }
}

object Store {
  def files(d: File): Seq[File] =
    Option(d.listFiles).map(_.toSeq).getOrElse(Nil).flatMap(f => if (f.isDirectory) files(f) else Seq(f))
}
