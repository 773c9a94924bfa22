package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (JVM-wide, forked test JVM),
  * and the Spark-action counter the job-budget assertions share. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `(executions, jobs)` while `f` runs (listener bus drained before
    * read). EXECUTIONS = distinct SQL execution ids across started
    * jobs — the number of ACTIONS the code path runs, the
    * design-controlled budget (a job with no execution id — parquet
    * footer inference — counts as its own action). JOBS = raw
    * onJobStart count, which AQE inflates by one per materialized
    * query stage — plan-shape-dependent, pinned only loosely. */
  def countActions(f: => Unit): (Int, Int) = {
    val (acts, jobs, _) = countActionsNamed(f)
    (acts, jobs)
  }

  /** [[countActions]] plus each counted action's call site — printed by
    * the budget assertions so a regression names the extra action
    * instead of just counting it. */
  def countActionsNamed(f: => Unit): (Int, Int, Seq[String]) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val execs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val bare = new java.util.concurrent.atomic.AtomicInteger()
    val descs = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        Option(j.properties.getProperty("spark.sql.execution.id")) match {
          case Some(id) => execs.add(id); ()
          case None =>
            bare.incrementAndGet()
            descs.put(-1000L - bare.get(), "BARE " +
              j.stageInfos.lastOption.map(_.name).getOrElse("?"))
            ()
        }
      }
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui
            .SparkListenerSQLExecutionStart =>
          descs.put(s.executionId,
            s.description.linesIterator.toSeq.headOption.getOrElse("?"))
          ()
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      f
      org.apache.spark.GraftListenerBridge.waitUntilEmpty(
        spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    val counted = execs.asScala.map(id =>
      Option(descs.get(id.toLong)).getOrElse(s"exec $id")).toSeq ++
      descs.asScala.collect { case (k, v) if k < 0 => v }
    (execs.size() + bare.get(), jobs.get(), counted.sorted)
  }
}
