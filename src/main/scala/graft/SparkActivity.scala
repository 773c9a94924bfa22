package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** What Spark did while one block ran, from a listener, never from an
  * extra action.
  *
  *  - `actions`: distinct SQL execution ids across the started jobs, plus
  *    each job with no execution id (parquet footer inference) as its own
  *    action. This is the design-controlled budget the job-budget specs pin.
  *  - `jobs`: raw job starts, which AQE inflates by one per materialized
  *    query stage, so it depends on the plan's shape.
  *  - `stages`, `tasks`: completed stages and finished tasks of those jobs.
  *  - shuffle-write and input records/bytes summed over those stages, and
  *    the longest task's run time (a straggler shows as `maxTaskMs` near
  *    the stage's wall time).
  *  - `callSites`: one line per counted action, the SQL execution's
  *    description (`count at Foo.scala:12`) or `BARE <stage name>`, sorted.
  *  - `seconds`: wall time of the block itself.
  */
final case class SparkActivity(
    seconds: Double,
    actions: Int,
    jobs: Int,
    stages: Int,
    tasks: Long,
    shuffleWriteRecords: Long,
    shuffleWriteBytes: Long,
    inputRecords: Long,
    inputBytes: Long,
    maxTaskMs: Long,
    callSites: Seq[String])

object SparkActivity {

  /** Runs `f` under a listener and returns its result with what Spark did
    * meanwhile. The listener bus is drained before the listener is added,
    * so stragglers of earlier work are not counted, and again before the
    * counters are read, so late events are. `jobGroup` keeps only the jobs
    * whose `spark.jobGroup.id` it accepts (the empty string when unset),
    * and only their stages and tasks.
    */
  def measure[T](spark: SparkSession, jobGroup: String => Boolean = _ => true)(
      f: => T): (T, SparkActivity) = {
    val sc = spark.sparkContext
    GraftListenerBridge.waitUntilEmpty(sc)
    val c = new Counter(jobGroup)
    sc.addSparkListener(c)
    try {
      val t0 = System.nanoTime()
      val r = f
      val seconds = (System.nanoTime() - t0) / 1e9
      GraftListenerBridge.waitUntilEmpty(sc)
      (r, c.result(seconds))
    } finally sc.removeSparkListener(c)
  }

  private final class Counter(jobGroup: String => Boolean) extends SparkListener {
    private val stageIds = ConcurrentHashMap.newKeySet[Int]()
    private val execs = ConcurrentHashMap.newKeySet[Long]()
    private val execDescs = new ConcurrentHashMap[Long, String]()
    private val bare = new ConcurrentLinkedQueue[String]()
    private val jobs, stages = new AtomicInteger
    private val tasks, shuffleRecs, shuffleBytes, inRecs, inBytes, maxTask =
      new AtomicLong

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val props = Option(j.properties)
      if (jobGroup(props.map(_.getProperty("spark.jobGroup.id", "")).getOrElse(""))) {
        jobs.incrementAndGet()
        j.stageIds.foreach(stageIds.add)
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))) match {
          case Some(id) => execs.add(id.toLong)
          case None =>
            bare.add("BARE " + j.stageInfos.lastOption.map(_.name).getOrElse("?"))
        }
      }
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      if (stageIds.contains(s.stageInfo.stageId)) {
        stages.incrementAndGet()
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          shuffleRecs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          inRecs.addAndGet(m.inputMetrics.recordsRead)
          inBytes.addAndGet(m.inputMetrics.bytesRead)
        }
      }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (stageIds.contains(t.stageId)) {
        tasks.incrementAndGet()
        if (t.taskInfo != null)
          maxTask.accumulateAndGet(t.taskInfo.duration, (a, b) => math.max(a, b))
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execDescs.put(s.executionId,
          s.description.linesIterator.nextOption().getOrElse("?"))
        ()
      case _ =>
    }

    def result(seconds: Double): SparkActivity = {
      val ex = execs.asScala.toSeq
      SparkActivity(seconds, ex.size + bare.size, jobs.get, stages.get,
        tasks.get, shuffleRecs.get, shuffleBytes.get, inRecs.get, inBytes.get,
        maxTask.get,
        (ex.map(id => Option(execDescs.get(id)).getOrElse(s"exec $id")) ++
          bare.asScala).sorted)
    }
  }
}
