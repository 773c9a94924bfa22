package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM:
  *
  * {{{
  * graft.perfbench.Main <workload> <inputDir> <workDir> <seconds> <trace 0|1> <seed>
  * }}}
  *
  * `inputDir` holds what `gen.py` wrote for the workload and seed;
  * `workDir` is an empty scratch directory the run may write into. The
  * last stdout line is the run's result as one JSON object. */
object Main {

  def main(args: Array[String]): Unit = {
    val Array(workload, inputDir, workDir, secondsArg, traceArg, seedArg) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cpus = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
      .config("spark.hadoop.fs.file.impl.disable.cache", "true")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log(f"spark session ready at uptime $uptimeS%.1fs")
    val trace = if (traced) Some(Trace.install(spark)) else None
    val res = new Result
    try {
      workload match {
        case "nna-dashboard" => new Dashboard(spark, inputDir, seedArg.toLong, seconds, trace, res).run()
        case "nna-tail" => new Tail(spark, inputDir, workDir, seconds, trace, res).run()
        case "store-serve" => new Store(spark, inputDir, workDir, seconds, trace, res).run()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        res.fail(s"run aborted: $e")
    }
    println(res.json)
    System.out.flush()
    // a live WebServer or streaming query keeps non-daemon threads; end here
    Runtime.getRuntime.halt(0)
  }

  /** Seconds since this JVM started (the JVM's own start time, so the
    * build tool and compiles that launched it are outside). */
  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  /** Heap in use after a full collection, in MB: the lesser of two
    * collections a little apart, so that memory Spark's cleaner frees
    * after the first one is not counted. */
  def heapUsedMb(): Double = (1 to 2).map { _ =>
    System.gc()
    Thread.sleep(150)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** What a run prints: operations attempted and failed, whether every
  * checked output was right, and the metrics by name and unit. */
final class Result {
  @volatile var attempted = 0L
  @volatile var failed = 0L
  @volatile var correct = true
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  def fail(why: String): Unit = synchronized {
    if (correct) Main.log(s"WRONG: $why")
    correct = false
  }
  def check(ok: Boolean, why: => String): Unit = if (!ok) fail(why)
  def count(ok: Boolean): Unit = synchronized {
    attempted += 1
    if (!ok) failed += 1
  }
  def put(name: String, value: Double, unit: String): Unit = synchronized {
    metrics(name) = (value, unit)
  }

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Timed samples of one operation kind. */
final class Samples {
  private val buf = mutable.ArrayBuffer.empty[Double]
  def add(ms: Double): Unit = synchronized { buf += ms }
  def values: Seq[Double] = synchronized { buf.toSeq }
  def size: Int = synchronized { buf.size }
  def sum: Double = synchronized { buf.sum }
}

object Clock {
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, ms(t0))
  }
}
