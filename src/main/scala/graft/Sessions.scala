package graft

import org.apache.spark.sql.SparkSession

/** The one local session every entry point runs: `Bench`, `Verify`, `Cli`,
  * `ScaleBench` and the test suites. If two of them built their sessions
  * separately, the oracle run and the bench run could measure different
  * systems; here they cannot.
  *
  * `local(cpus)` runs `local[cpus]` with `cpus` shuffle partitions, a UTC
  * session zone, nanosecond parquet timestamps read as longs (the fixture
  * files carry them), the UI off, and a generated-class cache of 5000
  * entries: the default 100 is cycled several times over by the 271-query
  * registry, so a query's third run, or the bench's drift re-runs, would
  * pay janino recompilation again and read as phantom drift.
  *
  * `cpus` defaults to `$SPARK_GRAFT_CPUS` when set, else the JVM's
  * available processors. Log levels stay with the callers.
  */
object Sessions {
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cpus: Int = defaultCpus): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
}
