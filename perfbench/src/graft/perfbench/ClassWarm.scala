package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Start-up training run for the JVM's class-data archive: builds a
  * session like a benchmark run, runs one job, and exits normally so the
  * JVM can write the archive of the classes it loaded. */
object ClassWarm {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-classes")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args(0)).getOrCreate()
    spark.range(100).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    spark.stop()
    System.exit(0)
  }
}
