package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (JVM-wide, forked test JVM),
  * and the Spark-action counter the job-budget assertions share. */
object TestSpark {
  /** Four cores, so the pinned budgets keep four shuffle partitions. */
  lazy val spark: SparkSession = {
    val s = Sessions.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `(actions, jobs)` while `f` runs: [[SparkActivity]]'s `actions` (the
    * design-controlled budget) and raw `jobs` (plan-shape-dependent,
    * pinned only loosely). */
  def countActions(f: => Unit): (Int, Int) = {
    val (acts, jobs, _) = countActionsNamed(f)
    (acts, jobs)
  }

  /** [[countActions]] plus each counted action's call site — printed by
    * the budget assertions so a regression names the extra action
    * instead of just counting it. */
  def countActionsNamed(f: => Unit): (Int, Int, Seq[String]) = {
    val (_, a) = SparkActivity.measure(spark)(f)
    (a.actions, a.jobs, a.callSites)
  }
}
