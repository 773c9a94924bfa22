package graft.perfbench

import java.net.{HttpURLConnection, URL, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.api.{NNAQuery, Security, Suggestions, WebServer}
import graft.engine.{Aggregates, SqlShim}
import graft.inodes.InodeView

/** `nna-dashboard`: the generated namespace loaded the way `Cli serve`
  * loads it, served by an in-process [[WebServer]], and two closed-loop
  * HTTP clients sending a seeded mix of the reference's endpoints. */
final class Dashboard(spark: SparkSession, inputDir: String, seed: Long, seconds: Double,
                      trace: Option[Trace], res: Result) {
  private val Clients = 2
  private val dataDir = s"oiv:$inputDir/ns.tsv"

  private case class Req(url: String, kind: String, expected: String)

  def run(): Unit = {
    val (inodes, loadMs) = Clock.time {
      val df = InodeView.snapshot(spark, dataDir)
      df.count()
      df
    }
    Main.log(f"namespace loaded in ${loadMs / 1000}%.1fs at uptime ${Main.uptimeS}%.1fs")
    val server = new WebServer(spark, inodes, dataDir,
      new Security.Context(Nil, "perfbench".getBytes(UTF_8)))
    server.start()
    // the constructor queues the start-up suggestions warm on a background
    // thread; it runs Spark actions that must not land in the timed window
    server.awaitSuggestionWarm()
    Main.log(f"suggestions warm done at uptime ${Main.uptimeS}%.1fs")
    val base = s"http://127.0.0.1:${server.boundPort}"
    val reqs = new ObjectMapper().readTree(new java.io.File(s"$inputDir/requests.json"))
      .elements().asScala.map(n => Req(n.get("url").asText, n.get("kind").asText,
        n.get("expected").asText)).toVector
    // untimed warm-up, two passes over every request; the first answer
    // must equal DuckDB's
    val first = reqs.map { r =>
      val (code, body) = Http.get(base + r.url)
      val got = Dashboard.canon(r.kind, body)
      res.check(code == 200 && got == r.expected,
        s"${r.url}: HTTP $code, expected [${r.expected.take(300)}] got [${got.take(300)}]")
      trace.foreach(_ => engine(r.url, inodes)) // warm the in-process path too
      got
    }
    reqs.foreach(r => Http.get(base + r.url))

    val setupS = Main.uptimeS
    Main.log(f"warm-up done at uptime $setupS%.1fs")
    val gc0 = Main.gcMs
    val lat = new Samples
    val overhead = new Samples
    val compile = new Samples
    val plan = new Samples
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    // one shared request sequence in whole rounds (every request once per
    // round, in a seeded order); clients pull from it until the round in
    // progress at the deadline is used up, so both stop within one request
    val rnd = new scala.util.Random(seed)
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val refill = new Object
    def next(): Option[Int] = refill.synchronized {
      if (queue.isEmpty && System.nanoTime() < deadline)
        rnd.shuffle(reqs.indices.toVector).foreach(queue.add)
      Option(queue.poll())
    }
    val threads = (0 until Clients).map { c =>
      val th = new Thread(() => {
        trace.foreach(_ => spark.sparkContext.setLocalProperty(Trace.KindProperty, "engine"))
        var i = next()
        while (i.isDefined) {
          val r = reqs(i.get)
          val fs0 = trace.map(_ => Trace.fsCounters)
          val a = System.currentTimeMillis()
          val ((code, body), ms) = Clock.time(Http.get(base + r.url))
          val ok = code == 200
          res.count(ok)
          if (ok) {
            lat.add(ms)
            val got = Dashboard.canon(r.kind, body)
            res.check(got == first(i.get), s"${r.url}: answer changed to [${got.take(300)}]")
          } else Main.log(s"${r.url}: HTTP $code ${body.take(300)}")
          trace.foreach { t =>
            t.interval("read", a, System.currentTimeMillis())
            t.addFs("read", fs0.get, Trace.fsCounters)
            val (c, p, total) = engine(r.url, inodes)
            compile.add(c); plan.add(p)
            overhead.add(ms - total)
          }
          i = next()
        }
      }, s"perfbench-client-$c")
      th.start()
      th
    }
    threads.foreach(_.join())
    val windowS = (System.nanoTime() - t0) / 1e9
    val gcWindow = Main.gcMs - gc0
    val heap = Main.heapUsedMb()
    server.stop()

    val xs = lat.values
    res.put("setup_s", setupS, "s")
    res.put("read_p50_ms", Stats.median(xs), "ms")
    res.put("reads_per_s", xs.size / windowS, "1/s")
    res.put("heap_used_mb", heap, "MB")
    trace.foreach { t =>
      res.put("api.overhead_ms", Stats.median(overhead.values), "ms")
      res.put("engine.compile_ms", Stats.median(compile.values), "ms")
      res.put("engine.plan_ms", Stats.median(plan.values), "ms")
      res.put("inodes.load_s", loadMs / 1000.0, "s")
      res.put("inodes.cached_mb", spark.sparkContext.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / 1048576.0, "MB")
      res.put("jvm.gc_ms", gcWindow.toDouble, "ms")
      t.report(res)
    }
  }

  /** The in-process twin of one HTTP request: the same engine entry
    * points the handler calls, timed as (compile ms, plan ms, total ms). */
  private def engine(url: String, inodes: DataFrame): (Double, Double, Double) = {
    val endpoint = url.drop(1).takeWhile(_ != '?')
    val p = url.dropWhile(_ != '?').drop(1).split('&').filter(_.contains("=")).map { kv =>
      val i = kv.indexOf('=')
      URLDecoder.decode(kv.take(i), UTF_8) -> URLDecoder.decode(kv.drop(i + 1), UTF_8)
    }.toMap
    val t0 = System.nanoTime()
    val df = endpoint match {
      case "filter" => NNAQuery.execute(NNAQuery.fromParams(p), inodes)
      case "histogram" | "histogram3" =>
        NNAQuery.execute(NNAQuery.fromParams(p).copy(histType = p.get("type")), inodes)
      case "histogram2" => NNAQuery.execute(NNAQuery.fromParams(p)
        .copy(histType = p.get("type"), histType2 = p.get("type2")), inodes)
      case "divide" =>
        def q(n: String) = NNAQuery(set = p.getOrElse(s"set$n", "files"),
          filters = p.getOrElse(s"filters$n", ""), sum = Seq(p.getOrElse(s"sum$n", "count")))
        NNAQuery.divide(q("1"), q("2"), inodes)
      case "contentSummary" => Aggregates.contentSummary(inodes, p("path"))
      case "sql" => SqlShim.execute(spark, dataDir, p("sqlStatement"))
        .getOrElse(sys.error("a SET statement has no result"))
      case "directories" =>
        Suggestions.topDirectories(inodes, p("depth").toInt, p("limit").toInt)
    }
    val compileMs = Clock.ms(t0)
    df.collect()
    val totalMs = Clock.ms(t0)
    val phases = df.queryExecution.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum.toDouble
    (compileMs, planMs, totalMs)
  }
}

object Dashboard {
  private val Pair = "\"([^\"]+)\":\\s*(\"([^\"]*)\"|[^,}\\s]+)".r
  private val Obj = "\\{[^{}]*\\}".r

  /** A response in the generator's canonical form (see gen.py): `lines`
    * as sent, `csv` without its header and sorted, `json` one line per
    * object with its fields sorted by name. */
  def canon(kind: String, body: String): String = kind match {
    case "lines" => body.trim.split("\n").mkString("\n")
    case "csv" => body.trim.split("\n").drop(1).sorted.mkString("\n")
    case "json" => Obj.findAllIn(body).map { o =>
      Pair.findAllMatchIn(o).map { m =>
        m.group(1) -> Option(m.group(3)).getOrElse(m.group(2))
      }.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("|")
    }.mkString("\n")
  }
}

object Http {
  def get(url: String): (Int, String) = {
    val c = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val body = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
    (code, body)
  }
}
