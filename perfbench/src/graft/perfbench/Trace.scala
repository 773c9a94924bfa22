package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, LocatedFileStatus,
  LocalFileSystem, Path, RemoteIterator}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The traced run's outside view of the program: a SparkListener the
  * benchmark registers (jobs, tasks, executor run time, scheduler delay,
  * shuffle bytes), Hadoop's local file-system statistics, and the wall
  * intervals of the operations the workload times. Jobs and tasks are
  * attributed to an operation kind by their timestamps. */
final class Trace private (spark: SparkSession) extends SparkListener {
  // kind named by the submitting thread's local property, when it sets one
  private val stageKind = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val jobs = new ConcurrentLinkedQueue[(String, Long, Long)]()
  // (kind, finish ms, executor run ms, scheduler delay ms, shuffle bytes)
  private val tasks = new ConcurrentLinkedQueue[(String, Long, Long, Long, Long)]()
  private val ops = new ConcurrentLinkedQueue[(String, Long, Long)]()
  private val fs = mutable.Map.empty[String, Array[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val k = Option(e.properties).map(_.getProperty(Trace.KindProperty, "")).getOrElse("")
    e.stageIds.foreach(stageKind.put(_, k))
    jobStart.put(e.jobId, (k, e.time))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (k, s) = jobStart.remove(e.jobId)
    jobs.add((k, s, e.time))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null) {
      val getting = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      val delay = math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - getting)
      val shuffle = m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      tasks.add((stageKind.getOrDefault(e.stageId, ""), i.finishTime, m.executorRunTime,
        delay, shuffle))
    }
  }

  /** Records one operation of `kind` run on the calling thread, with the
    * file-system work done while it ran. */
  def op[T](kind: String)(f: => T): T = {
    val before = Trace.fsCounters
    val a = System.currentTimeMillis()
    try f
    finally {
      interval(kind, a, System.currentTimeMillis())
      addFs(kind, before, Trace.fsCounters)
    }
  }

  def interval(kind: String, a: Long, b: Long): Unit = ops.add((kind, a, b))

  def addFs(kind: String, before: Array[Long], after: Array[Long]): Unit = synchronized {
    val acc = fs.getOrElseUpdate(kind, new Array[Long](before.length))
    for (i <- acc.indices) acc(i) += after(i) - before(i)
  }

  /** Puts the spark.* and fs.* per-layer metrics, per read and per write.
    * A job or task belongs to the kind its submitting thread named, or
    * else to the read or write whose interval holds its start (jobs) or
    * finish (tasks). */
  def report(res: Result): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val timed = ops.asScala.toSeq.sortBy(_._2)
    def kindOf(named: String, t: Long): String =
      if (named.nonEmpty) named
      else timed.find(o => o._2 <= t && t <= o._3).map(_._1).getOrElse("")
    val jobList = jobs.asScala.toSeq.map { case (k, s, e) => (kindOf(k, s), s, e) }
    val taskList = tasks.asScala.toSeq.map(t => (kindOf(t._1, t._2), t))
    for (kind <- Seq("read", "write")) {
      val mine = timed.filter(_._1 == kind)
      val n = math.max(1, mine.size).toDouble
      val js = jobList.filter(_._1 == kind)
      val ts = taskList.filter(_._1 == kind).map(_._2)
      res.put(s"spark.jobs_per_$kind", js.size / n, "count")
      res.put(s"spark.tasks_per_$kind", ts.size / n, "count")
      res.put(s"spark.task_ms_per_$kind", ts.map(_._3).sum / n, "ms")
      res.put(s"spark.shuffle_kb_per_$kind", ts.map(_._5).sum / 1024.0 / n, "KB")
      // wall time of the operation during which none of its jobs ran
      val spans = js.map(j => (j._2, j._3))
      val gaps = mine.map { case (_, a, b) => (b - a) - Trace.covered(spans, a, b) }
      res.put(s"spark.gap_ms_per_$kind", gaps.sum / n, "ms")
      if (kind == "read") res.put("spark.task_wait_ms_per_read", ts.map(_._4).sum / n, "ms")
      val f = synchronized(fs.getOrElse(kind, new Array[Long](4)))
      if (kind == "read") {
        res.put("fs.read_ops_per_read", f(0) / n, "count")
        res.put("fs.list_ops_per_read", f(1) / n, "count")
      } else {
        res.put("fs.read_ops_per_write", f(0) / n, "count")
        res.put("fs.bytes_written_kb_per_write", f(3) / 1024.0 / n, "KB")
      }
    }
  }
}

object Trace {
  /** Thread-local Spark property naming the operation kind of a job. */
  val KindProperty = "perfbench.kind"

  def install(spark: SparkSession): Trace = {
    val t = new Trace(spark)
    spark.sparkContext.addSparkListener(t)
    t
  }

  /** Local file-system counters: files opened for reading, listings,
    * write ops and bytes written (Hadoop's statistics for the last two). */
  def fsCounters: Array[Long] = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Array(CountingLocalFs.opens.get, CountingLocalFs.lists.get,
      st.map(_.getWriteOps.toLong).sum, st.map(_.getBytesWritten).sum)
  }

  /** Length of [a, b] covered by the union of the job intervals. */
  def covered(jobs: Seq[(Long, Long)], a: Long, b: Long): Long = {
    val clipped = jobs.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- clipped) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** The local file system with its opens and directory listings counted
  * (Hadoop's statistics for the local file system count neither).
  * Installed as `fs.file.impl` in traced runs only. */
class CountingLocalFs extends LocalFileSystem {
  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    CountingLocalFs.opens.incrementAndGet()
    super.open(p, bufferSize)
  }
  override def listStatus(p: Path): Array[FileStatus] = {
    CountingLocalFs.lists.incrementAndGet()
    super.listStatus(p)
  }
  override def listLocatedStatus(p: Path): RemoteIterator[LocatedFileStatus] = {
    CountingLocalFs.lists.incrementAndGet()
    super.listLocatedStatus(p)
  }
}

object CountingLocalFs {
  val opens = new AtomicLong()
  val lists = new AtomicLong()
}
