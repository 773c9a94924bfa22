package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{IncrementalCensus, NNAQuery, Suggestions}
import graft.ingest.EditLogSource
import graft.inodes.InodeView

/** `nna-tail`: the generated namespace kept current by a live
  * [[EditLogSource.tailWithOps]] stream. Each round lands one OEV
  * segment, waits until the replayed namespace is published, checks it
  * against the generator's sequential replay, runs the fixed set of
  * timed reads on it, and then the fault probes (untimed). */
final class Tail(spark: SparkSession, inputDir: String, workDir: String, seconds: Double,
                 trace: Option[Trace], res: Result) {
  /** The fixed read set runs this many times on each published namespace. */
  private val ReadRepeats = 2
  /** Requests that read columns the replay does not republish; each is
    * expected to fail on every tailed namespace. */
  private val Probes = Seq(
    "set=dirs&filters=hasQuota:eq:true&sum=count",
    "set=files&filters=hasAcl:eq:true&sum=count",
    "set=files&filters=isWithSnapshot:eq:false&sum=count",
    "set=dirs&sum=dirNumChildren,nsQuotaUsed")
  private val Dropped = Seq("hasAcl", "isWithSnapshot", "hasEcPolicy", "hasQuota",
    "nsQuotaUsed", "dsQuotaUsed", "dirNumChildren")
  private val Hashed = Seq("path", "isFile", "user", "group", "permission", "accessTime",
    "modTime", "fileSize", "blockSize", "numBlocks", "fileReplica", "storagePolicyId",
    "isUnderConstruction", "nsQuota", "dsQuota", "name", "parent", "depth")
  private val NewIdBase = 1L << 40

  def run(): Unit = {
    val dataDir = s"oiv:$inputDir/ns.tsv"
    val (initial, loadMs) = Clock.time {
      val df = InodeView.snapshot(spark, dataDir)
      df.count()
      df
    }
    Main.log(f"namespace loaded in ${loadMs / 1000}%.1fs at uptime ${Main.uptimeS}%.1fs")
    val exp = new ObjectMapper().readTree(new java.io.File(s"$inputDir/expect.json"))
    val reads = exp.get("reads").elements().asScala.map(n => n.get(0).asText -> n.get(1).asText).toVector
    val segs = exp.get("segments").elements().asScala.toVector
    // the fold probe folds onto a census of the full-schema namespace
    val census0 = Suggestions.cachedValues(initial)

    val staging = Files.createDirectories(Paths.get(workDir, "staging"))
    val landing = Files.createDirectories(Paths.get(workDir, "landing"))
    val published = new LinkedBlockingQueue[(DataFrame, DataFrame, Long)]()
    spark.sparkContext.setLocalProperty(Trace.KindProperty, null)
    val query = EditLogSource.tailWithOps(spark, initial, landing.toString,
      (snap, ops) => published.put((snap, ops, System.nanoTime())), availableNow = false)

    val write = new Samples
    val readLat = new Samples
    val parse, apply, compile, plan = new Samples
    var writeOps = 0L
    var prev = initial
    var timedMs = 0.0
    var rounds = 0
    var setupS = 0.0
    var gc0 = 0L
    var i = 0
    // segment 0 is the untimed warm-up: every operation kind runs once
    while (i < segs.size && (i == 0 || timedMs < seconds * 1000)) {
      val warm = i == 0
      val name = f"seg_${i + 1}%04d.xml"
      val src = Paths.get(inputDir, "segments", name)
      Files.copy(src, staging.resolve(name))
      if (!warm && rounds == 0) {
        setupS = Main.uptimeS
        gc0 = Main.gcMs
      }
      val fs0 = trace.map(_ => Trace.fsCounters)
      val landed = System.nanoTime()
      val a = System.currentTimeMillis()
      Files.move(staging.resolve(name), landing.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      val got = published.poll(120, TimeUnit.SECONDS)
      require(got != null, s"segment $name was not published within 120 s")
      val (snap, ops, at) = got
      val wMs = (at - landed) / 1e6
      trace.foreach { t =>
        t.interval("write", a, System.currentTimeMillis())
        t.addFs("write", fs0.get, Trace.fsCounters)
      }
      val e = segs(i)
      if (!warm) {
        write.add(wMs)
        writeOps += e.get("ops").asLong
        timedMs += wMs
      }
      // operations count from the first timed round on, so that every run
      // attempts whole rounds of the same operations
      if (!warm) res.count(true)
      spark.sparkContext.setLocalProperty(Trace.KindProperty, "check")
      check(snap, e, name)
      trace.foreach { _ =>
        // the parse and the apply, called directly on the same segment
        val (typed, pMs) = Clock.time(EditLogSource.ops(spark, src.toString)
          .localCheckpoint(eager = true))
        val (_, aMs) = Clock.time(EditLogSource.applyEdits(prev, typed).localCheckpoint(eager = true))
        if (!warm) { parse.add(pMs); apply.add(aMs) }
      }
      spark.sparkContext.setLocalProperty(Trace.KindProperty, "read")
      for (_ <- 0 until (if (warm) 1 else ReadRepeats); (rname, qs) <- reads) {
        val t0 = System.nanoTime()
        val a = System.currentTimeMillis()
        val df = NNAQuery.execute(Tail.query(qs), snap)
        val cMs = Clock.ms(t0)
        val rows = df.collect()
        val ms = Clock.ms(t0)
        trace.foreach(_.interval("read", a, System.currentTimeMillis()))
        if (!warm) res.count(true)
        val canon = Tail.canon(rows)
        res.check(canon == e.get("reads").get(rname).asText,
          s"$name read $rname: expected [${e.get("reads").get(rname).asText.take(200)}] " +
            s"got [${canon.take(200)}]")
        if (!warm) {
          readLat.add(ms); timedMs += ms
          compile.add(cMs)
          val ph = df.queryExecution.tracker.phases
          plan.add(Seq("analysis", "optimization", "planning").flatMap(ph.get)
            .map(_.durationMs).sum.toDouble)
        }
      }
      spark.sparkContext.setLocalProperty(Trace.KindProperty, "probe")
      Probes.foreach(qs => probe(qs, warm)(NNAQuery.execute(Tail.query(qs), snap).collect()))
      probe("census fold", warm) {
        val pred = IncrementalCensus.touchedPredicate(ops)
        IncrementalCensus.fold(census0, prev.where(pred), snap.where(pred), snap,
          InodeView.NowMs).collect()
      }
      spark.sparkContext.setLocalProperty(Trace.KindProperty, null)
      prev = snap
      if (!warm) rounds += 1
      i += 1
    }
    val gcWindow = Main.gcMs - gc0
    val heap = Main.heapUsedMb()
    query.stop()
    Main.log(s"$rounds timed segments, ${readLat.size} timed reads")

    val rs = readLat.values
    res.put("setup_s", setupS, "s")
    res.put("read_p50_ms", Stats.median(rs), "ms")
    res.put("reads_per_s", rs.size / (readLat.sum / 1000.0), "1/s")
    res.put("heap_used_mb", heap, "MB")
    trace.foreach { t =>
      val w50 = Stats.median(write.values)
      res.put("write_p50_ms", w50, "ms")
      res.put("write_rows_per_s", writeOps / (write.sum / 1000.0), "rows/s")
      res.put("engine.compile_ms", Stats.median(compile.values), "ms")
      res.put("engine.plan_ms", Stats.median(plan.values), "ms")
      res.put("inodes.load_s", loadMs / 1000.0, "s")
      res.put("ingest.parse_ms", Stats.median(parse.values), "ms")
      res.put("ingest.apply_ms", Stats.median(apply.values), "ms")
      res.put("ingest.stream_ms", w50 - Stats.median(parse.values) - Stats.median(apply.values), "ms")
      res.put("jvm.gc_ms", gcWindow.toDouble, "ms")
      t.report(res)
    }
  }

  /** The published namespace must match the generator's replay on row
    * count and on the order-independent hash of every maintained column
    * (and of the ids the edits assigned). */
  private def check(snap: DataFrame, e: com.fasterxml.jackson.databind.JsonNode,
                    name: String): Unit = {
    def h(c: Column): Column = conv(substring(md5(concat(col("path"), lit("\t"),
      coalesce(c.cast("string"), lit("\\N")))), 1, 8), 16, 10).cast("long")
    val newId = col("id") >= NewIdBase && col("id") < 2 * NewIdBase
    val aggs = count(lit(1)) +: Hashed.map(c => sum(h(col(c)))) :+
      sum(when(newId, h(col("id"))).otherwise(0L))
    val r = snap.agg(aggs.head, aggs.tail: _*).head()
    res.check(r.getLong(0) == e.get("rows").asLong,
      s"$name: ${r.getLong(0)} rows, replay has ${e.get("rows").asLong}")
    (Hashed :+ "id").zipWithIndex.foreach { case (c, k) =>
      val want = e.get("hash").get(c).asLong
      val got = if (r.isNullAt(k + 1)) 0L else r.getLong(k + 1)
      res.check(got == want, s"$name: column $c hash $got, replay $want")
    }
  }

  /** A fault probe: attempted and failed every time, with an error that
    * names a column the replay drops. */
  private def probe(what: String, warm: Boolean)(f: => Unit): Unit =
    try {
      f
      if (!warm) res.count(true)
    } catch {
      case e: Exception =>
        if (!warm) res.count(false)
        val msg = String.valueOf(e.getMessage)
        res.check(Dropped.exists(msg.contains), s"probe $what failed without naming a " +
          s"dropped column: ${msg.take(300)}")
    }
}

object Tail {
  def query(qs: String): NNAQuery = {
    val p = qs.split('&').map { kv =>
      val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
    }.toMap
    NNAQuery.fromParams(p).copy(histType = p.get("type"), histType2 = p.get("type2"))
  }

  /** Collected rows as the generator renders them: cells joined by `,`,
    * lines sorted. */
  def canon(rows: Array[Row]): String =
    rows.map(_.toSeq.map(v => if (v == null) "" else v.toString).mkString(",")).sorted.mkString("\n")
}
