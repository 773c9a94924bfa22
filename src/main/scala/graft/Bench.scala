package graft

/** Per-round throughput benchmark. Mirrors the reference's execution model:
  * one load phase (namespace snapshot into memory — NNA's fsimage load),
  * then interactive queries against the snapshot. Prints ONE JSON line.
  * Runs on [[Sessions.local]], the session `Verify` checks.
  *
  * RUN ISOLATION: timings on a shared box are only meaningful if nothing
  * else competes for the CPUs (round-6 audit: two scan queries showed
  * 6-17x inflation purely from a compile running during the bench). The
  * runner therefore (a) takes an exclusive OS file lock — a second bench
  * refuses to start instead of silently corrupting both runs; (b) refuses
  * when an sbt process OUTSIDE its own ancestry is alive (a compile/test
  * server about to steal CPU) unless SPARK_GRAFT_BENCH_FORCE=1;
  * (c) refuses when the 1-minute loadavg exceeds
  * SPARK_GRAFT_BENCH_MAX_LOADAVG (default 1.0) OR the 5-minute loadavg
  * exceeds SPARK_GRAFT_BENCH_MAX_LOADAVG_5M (default 1.2) — round 12's
  * committed artifact was recorded at loadavg 6.94 (+51 phantom
  * seconds); round 14's was admitted at 1-min 0.94 while the 5-min
  * average read 3.25 (the box still cooling from the correctness run,
  * +17% wholesale) — the 5-min gate closes exactly that hole; and
  * (d) records /proc/loadavg at start and end, a ~2-s fixed
  * calibration probe (median-of-3 at both ends), and
  * total_calib_norm = total × calib_ref / mean(calib_start, calib_end)
  * so round-over-round totals compare box-normalized mechanically.
  *
  * SELF-contention matters as much (round-8 finding): one JVM running
  * 222 queries × 3 degrades itself — leaked caches/localCheckpoints and
  * dead codegen classloaders inflated late-run medians 3-7× vs a fresh
  * JVM. Countermeasures: a hygiene pass (unpersist non-pinned RDDs +
  * System.gc()) at every query-family boundary, and a random-K re-run
  * drift sweep at the end whose median must stay INSIDE
  * [1/SPARK_GRAFT_BENCH_DRIFT_TOL, SPARK_GRAFT_BENCH_DRIFT_TOL]
  * (default 1.3) for the committed artifact to be written — a
  * contaminated record is quarantined to `<out>.contaminated`. The gate
  * is TWO-SIDED: drift ≫ 1 means the box degraded during the run
  * (recorded medians honest, sweep slow), drift ≪ 1 means the recorded
  * medians themselves were inflated by load that cleared before the
  * sweep (the round-12 failure mode — its own sweep re-ran queries 2-5×
  * faster and the one-sided gate passed it).
  */
object Bench {

  /** Pids of this process and its ancestors (an sbt that LAUNCHED us is
    * fine; a foreign sbt is the hazard). */
  private def ancestry(): Set[Long] = {
    var pid = ProcessHandle.current()
    val out = scala.collection.mutable.Set[Long](pid.pid())
    while (pid.parent().isPresent) {
      pid = pid.parent().get(); out += pid.pid()
    }
    out.toSet
  }

  private def foreignSbtPids(): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    val own = ancestry()
    ProcessHandle.allProcesses().iterator().asScala.filter { p =>
      !own.contains(p.pid()) &&
        p.info().commandLine().map[Boolean](c =>
          c.contains("sbt-launch") || c.contains("xsbt.boot.Boot"))
          .orElse(false)
    }.map(_.pid()).toSeq
  }

  /** Quiet-box reference for the calibration probe: the END-position
    * median-of-3 measured on this round's quiet box (1-min loadavg
    * 0.22 at admission) with the 12e9-row probe — 2.13 s. The
    * constant anchors the normalized scale; cross-run agreement is
    * independent of its exact value (each run divides by its own
    * mean-of-probes). A run whose probes read 2× this constant had
    * its medians recorded on a box running at half speed. */
  private val CalibRefSec = 2.13

  /** Per-query CROSS-ARTIFACT drift flags (the r16 adjudication hole:
    * the driver's bench session carried two samples contended 10-17×
    * inside their own 3-run windows — `nna_dir_subtree` 10.5 s vs the
    * committed 0.61 s on the identical binary — and BOTH gates passed:
    * admission sees pre-run load, the drift sweep sees run-wide state,
    * neither sees one query's contended window). Each query's median
    * is compared to the committed baseline artifact's; a ratio ≥
    * `factor` either way flags the query in the emitted JSON, so a
    * contended window is marked mechanically instead of silently
    * distorting cross-round totals. Pure — unit-tested with synthetic
    * slowdowns. Sub-`minSec` pairs are skipped: a 10 ms query at any
    * ratio is scheduling noise, not contention evidence. */
  def perQueryOutliers(current: Map[String, Double],
                       baseline: Map[String, Double],
                       factor: Double = 3.0,
                       minSec: Double = 0.05,
                       calibAdjust: Double = 1.0)
      : Seq[(String, Double, Double, Double)] =
    current.toSeq.sorted.flatMap { case (name, cur) =>
      baseline.get(name).flatMap { base =>
        if (math.max(cur, base) < minSec || cur <= 0 || base <= 0) None
        else {
          // `calibAdjust` = baseline calib factor / current calib
          // factor (each = mean-of-probes / calib_ref): the box's own
          // speed varies ~2x run-to-run (the CalibRefSec residual), so
          // raw ratios let a uniform slowdown eat the 3x headroom —
          // masking genuine 1.5-2x per-query contention — or flag
          // EVERY query after a box-speed change. Scaling the ratio by
          // the two runs' calib factors compares box-normalized
          // medians; reported medians stay raw.
          val ratio = (cur / base) * calibAdjust
          if (ratio >= factor || ratio <= 1.0 / factor)
            Some((name, cur, base, ratio))
          else None
        }
      }
    }

  /** Per-query medians from a committed bench artifact (the bench's
    * own JSON, regex-parsed — no JSON dependency). Empty when the file
    * is absent or unreadable: the first round on a box has no
    * baseline, and flagging must never block the run. Negated
    * (failed-query) medians are dropped. */
  def baselineMedians(path: String): Map[String, Double] =
    try {
      val txt = scala.io.Source.fromFile(path).mkString
      val re = """"([A-Za-z0-9_]+)":\{"median":(-?[0-9.eE+\-]+)""".r
      re.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble)
        .filter(_._2 > 0).toMap
    } catch { case _: Exception => Map.empty }

  /** A committed artifact's calibration factor — mean of its start/end
    * probes over its calib_ref — i.e. how much slower than the
    * reference box that run's medians were recorded. None when the
    * artifact is absent or predates the calib fields; the caller then
    * skips calib adjustment (factor 1). */
  def baselineCalibFactor(path: String): Option[Double] =
    try {
      val txt = scala.io.Source.fromFile(path).mkString
      def field(name: String): Option[Double] =
        (s""""$name":(-?[0-9.eE+\\-]+)""").r.findFirstMatchIn(txt)
          .map(_.group(1).toDouble)
      for {
        s <- field("calib_start_sec")
        e <- field("calib_end_sec")
        r <- field("calib_ref_sec") if r > 0
      } yield ((s + e) / 2) / r
    } catch { case _: Exception => None }

  private def loadavg(): String =
    try {
      val parts = scala.io.Source.fromFile("/proc/loadavg").mkString
        .trim.split("\\s+")
      s"[${parts(0)}, ${parts(1)}, ${parts(2)}]"
    } catch { case _: Exception => "null" }

  /** Per-core CPU clock sample as `[min, median, max]` MHz — recorded
    * next to each calibration probe so a ±10-15% probe spread across
    * otherwise-quiet runs can be attributed (or not) to boost/thermal
    * clock state mechanically instead of by conjecture (the r15
    * residual: non-adjacent quiet probes varied ±12%). Prefers cpufreq
    * (`scaling_cur_freq`, kHz); falls back to /proc/cpuinfo MHz; null
    * when neither is exposed (containers often hide cpufreq). */
  private def cpuMhz(): String =
    try {
      val byFreq = new java.io.File("/sys/devices/system/cpu")
        .listFiles((_, n) => n.matches("cpu\\d+")) match {
        case null => Seq.empty[Double]
        case cs => cs.toSeq.flatMap { c =>
          val f = new java.io.File(c, "cpufreq/scaling_cur_freq")
          if (f.exists)
            try Some(scala.io.Source.fromFile(f).mkString.trim.toDouble
              / 1000.0)
            catch { case _: Exception => None }
          else None
        }
      }
      val mhz =
        if (byFreq.nonEmpty) byFreq
        else scala.io.Source.fromFile("/proc/cpuinfo").getLines()
          .filter(_.startsWith("cpu MHz")).map(
            _.split(":")(1).trim.toDouble).toSeq
      if (mhz.isEmpty) "null"
      else {
        val s = mhz.sorted
        f"[${s.head}%.0f, ${s(s.size / 2)}%.0f, ${s.last}%.0f]"
      }
    } catch { case _: Exception => "null" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    // ---- run isolation gate (see class doc) ----
    val lockPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_LOCK", "/tmp/graft-bench.lock"))
    val lockChannel = java.nio.channels.FileChannel.open(lockPath,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    val lock = lockChannel.tryLock()
    if (lock == null) {
      System.err.println(s"[bench] REFUSING to start: another bench holds " +
        s"$lockPath — concurrent benches corrupt both runs")
      sys.exit(2)
    }
    val force = sys.env.get("SPARK_GRAFT_BENCH_FORCE").contains("1")
    val sbtPids = foreignSbtPids()
    if (sbtPids.nonEmpty && !force) {
      System.err.println(s"[bench] REFUSING to start: sbt process(es) " +
        s"${sbtPids.mkString(",")} outside this run's ancestry are alive " +
        "(a compile during the bench skews medians 6-17x; round-6 " +
        "evidence). Stop them or set SPARK_GRAFT_BENCH_FORCE=1.")
      sys.exit(2)
    }
    val maxLoad = sys.env.get("SPARK_GRAFT_BENCH_MAX_LOADAVG")
      .map(_.toDouble).getOrElse(1.0)
    // the 5-MINUTE average gets its own (slightly looser) gate: the r14
    // driver run was admitted at 1-min 0.94 while the 5-min average
    // read 3.25 — the box was still cooling from the correctness run
    // and every TPC-H median recorded ~1.4× inflated. The 5-min gate
    // catches exactly that "recent burst still draining" state the
    // 1-min average has already forgiven.
    val maxLoad5m = sys.env.get("SPARK_GRAFT_BENCH_MAX_LOADAVG_5M")
      .map(_.toDouble).getOrElse(1.2)
    // 5-min loadavg decays with a ~5-minute time constant, so a box
    // that just finished a saturated run needs ~8-12 min to clear the
    // gate — the default wait must cover that, not just the 1-min decay
    val loadWaitSec = sys.env.get("SPARK_GRAFT_BENCH_LOAD_WAIT_SEC")
      .map(_.toLong).getOrElse(900L)
    def loadField(i: Int): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .trim.split("\\s+")(i).toDouble catch { case _: Exception => 0.0 }
    def load1m(): Double = loadField(0)
    def load5m(): Double = loadField(1)
    def settled(): Boolean = load1m() <= maxLoad && load5m() <= maxLoad5m
    // The launcher's own compile burst legitimately inflates the
    // 1-minute average right before we start (sbt runMain compiles
    // in-process), so first WAIT for the box to settle — the 1-min
    // average decays in 2-4 min of idle, the 5-min average in ~10.
    // Refuse only if it never does: that means something else still
    // owns the box and the medians would be recorded inflated
    // (round-12 artifact: loadavg 6.94, +51 phantom seconds; round-14
    // artifact: 1-min clean, 5-min 3.25, +17% wholesale).
    if (!force && !settled()) {
      val deadline = System.currentTimeMillis() + loadWaitSec * 1000
      System.err.println(f"[bench] waiting for loadavg (1m ${load1m()}%.2f" +
        f" ≤ $maxLoad%.2f AND 5m ${load5m()}%.2f ≤ $maxLoad5m%.2f) " +
        s"to settle (up to ${loadWaitSec}s)...")
      while (!settled() && System.currentTimeMillis() < deadline)
        Thread.sleep(5000)
      if (!settled()) {
        System.err.println(f"[bench] REFUSING to start: loadavg " +
          f"(1m ${load1m()}%.2f, 5m ${load5m()}%.2f) still exceeds " +
          f"($maxLoad%.2f, $maxLoad5m%.2f) after ${loadWaitSec}s — " +
          "something else owns the box. Stop it or set " +
          "SPARK_GRAFT_BENCH_FORCE=1.")
        sys.exit(2)
      }
    }
    val loadStart = loadavg()
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    // the bench artifact keeps only the LAST ~2000 chars of stdout/err —
    // WindowExec's per-execution "No Partition Defined" WARN (fired by
    // the deliberately bounded unpartitioned frames: Curation/Compaction
    // nBuckets-row offsets, per-day cumsums — each justified at its use
    // site) sprayed hundreds of lines across rounds 10-11 and crowded
    // every real diagnostic out of the tail. Silence that ONE logger;
    // every other WARN still reaches the artifact.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)

    def secs(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // JVM/codegen warmup (not timed against any query)
    spark.range(2000000).selectExpr("sum(id * 2)").collect()

    // CROSS-RUN calibration constant: a fixed CPU-bound probe (pure
    // codegen hash-sum over a fixed range, no IO, no shuffle variance)
    // timed median-of-3 at run start AND at run end. The in-run drift
    // sweep below catches contamination WITHIN a run, but two
    // individually-clean runs on this shared box still differ by
    // ±5-15% wholesale (JVM, page cache, CPU steal) — round-14
    // evidence: two in-band full runs totalled 95.8 s and 102.3 s on
    // identical binaries. The probe is sized to ~2 s of work on the
    // quiet box (r14's 0.2-s probe had a 0.09–0.27 s spread — 3×
    // noise, larger than the 17% signal it was meant to resolve; a
    // 60× larger fixed workload pushes scheduling jitter under the
    // few-percent line). For cross-round normalization the
    // artifact records CALIB_REF_SEC (the quiet-box constant measured
    // when the probe was sized, overridable via
    // SPARK_GRAFT_BENCH_CALIB_REF) and total_calib_norm =
    // total × calib_ref / mean(calib_start, calib_end) — the
    // mechanically box-normalized total a reader compares across
    // rounds (see the mean-vs-end note at the emit site). (Advisory
    // only — never gates.)
    def calibOnce(): Double = secs {
      // bit_xor: overflow-free under ANSI, still hashes every row
      spark.range(12000000000L).selectExpr("bit_xor(xxhash64(id))").collect()
    }
    val calibRef = sys.env.get("SPARK_GRAFT_BENCH_CALIB_REF")
      .map(_.toDouble).getOrElse(CalibRefSec)
    val cpuMhzStart = cpuMhz()
    val calibStart = Seq(calibOnce(), calibOnce(), calibOnce()).sorted.apply(1)
    // load phase: materialize the inode snapshot (reference: fsimage load)
    // and prime its quota-gate decisions (snapshot metadata — the
    // reference likewise precomputes its cached sets right after load)
    val loadSec = secs {
      val snap = graft.inodes.InodeView.snapshot(spark, sfDir)
      snap.count()
      graft.engine.PathStructure.primeQuotaGates(snap)
    }
    // the real-namespace ingest fixtures are namespace loads too — warm
    // them so nna_ingest_* times measure queries, not ingestion; timed
    // SEPARATELY so load_sec stays the main-snapshot number across rounds
    val ingestWarmSec = secs {
      Seq(s"oiv:${IngestQueries.DumpPath}",
          s"oivxml:${IngestQueries.XmlPath}",
          s"oivbin:${IngestQueries.BinPath}").foreach { loc =>
        val s = graft.inodes.InodeView.snapshot(spark, loc)
        s.count()
        graft.engine.PathStructure.primeQuotaGates(s)
      }
    }

    // IN-RUN HYGIENE (round-8 finding): 222 queries × 3 runs in one JVM
    // degrade the box as the run proceeds — leaked query-local caches and
    // localCheckpoints squeeze execution memory, and dead codegen
    // classloaders pile up until GC — so late-alphabet queries measured
    // 3-7× slower than the same binaries in a fresh JVM (judge-isolated:
    // q5 0.81 s vs 3.99 s committed). Between query FAMILIES (name
    // prefix) every persisted RDD not pinned at warmup is dropped and a
    // full GC runs (which also lets the ContextCleaner reclaim shuffle
    // files + broadcasts). Family boundary, not per query, so a query's
    // own 3 runs still share its internal caches.
    // localCheckpointed RDDs are excluded: their lineage is truncated, so
    // unpersisting them only trades cached blocks for a per-RDD
    // "cannot be recomputed" WARN in the artifact tail (round-10 finding)
    // without freeing anything a later query could rebuild. They are
    // query-local and bounded (delta/census-sized), so they ride until
    // the ContextCleaner collects their last reference.
    val pinned = spark.sparkContext.getPersistentRDDs.keySet.toSet
    var hygieneSec = 0.0
    def hygiene(): Unit = hygieneSec += secs {
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!pinned.contains(id) &&
            !org.apache.spark.rdd.GraftRddBridge.isLocallyCheckpointed(rdd))
          rdd.unpersist(blocking = true)
      }
      System.gc()
    }

    val failed = scala.collection.mutable.ListBuffer[String]()
    // optional args: run only queries whose name starts with one of them
    // (iteration aid; the driver passes none and gets the full suite)
    val only = args.toSet
    // Median-of-3 per query: single-shot timings on a shared box spike up
    // to 10× under contention (round-3 evidence: nna_top_directories
    // recorded 14 s, re-measured 1.30 s) — the median is robust to one
    // contended run AND to first-run cold-cache effects. A query that
    // throws stops repeating immediately.
    val Runs = 3
    var family = ""
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.exists(n.startsWith) }
      .map { case (name, fn) =>
        val fam = name.takeWhile(_ != '_')
        if (fam != family) { hygiene(); family = fam }
        val times = scala.collection.mutable.ListBuffer[Double]()
        var i = 0
        while (i < Runs && !failed.contains(name)) {
          times += secs {
            try fn(spark, sfDir).count()
            catch { case e: Throwable =>
              failed += name
              System.err.println(s"[bench] $name failed: ${e.getMessage}") }
          }
          i += 1
        }
        val sorted = times.sorted
        (name, sorted(sorted.size / 2), sorted.head, sorted.last)
      }
    // a failed query's time is negated so a run with failures is
    // machine-distinguishable from a clean one in the emitted JSON.
    // Full per-query spread (median, min, max of the 3 runs) so a reader
    // can separate plan regressions from box noise mechanically: identical
    // binaries moved 16% median / 54% worst-case between rounds 4 and 5
    // on this shared box — a wide (min, max) flags the noisy queries.
    val qs = results.map { case (k, med, mn, mx) =>
      val sign = if (failed.contains(k)) -1 else 1
      "\"" + k + "\":{\"median\":" + sign * med + ",\"min\":" + sign * mn +
        ",\"max\":" + sign * mx + "}"
    }.mkString("{", ",", "}")
    val total = results.collect { case (k, med, _, _) if !failed.contains(k) => med }.sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // whole-run noise gate (replaces the round-7 single-query sentinel,
    // which a 222-query run defeats: one alphabetically-early query
    // cannot see degradation that builds up over the run — round-8's
    // committed medians were 3-7× inflated and the sentinel read 0.92).
    // After a final hygiene pass, re-run a random K-query sample once
    // each; the MEDIAN rerun/median drift across the sample estimates
    // how much the in-run box state inflated the recorded medians. If it
    // exceeds the tolerance the full record goes to a quarantine file
    // instead of the committed artifact path — a contaminated run must
    // never become the round's numbers.
    hygiene()
    val SweepK = sys.env.get("SPARK_GRAFT_BENCH_SWEEP_K").map(_.toInt).getOrElse(10)
    val driftTol = sys.env.get("SPARK_GRAFT_BENCH_DRIFT_TOL")
      .map(_.toDouble).getOrElse(1.3)
    val ok = results.filter { case (k, med, _, _) =>
      !failed.contains(k) && med > 0.02 } // sub-20ms queries are all noise
    val rnd = new scala.util.Random()
    val sample = rnd.shuffle(ok).take(SweepK)
    val sweep = sample.map { case (k, med, _, _) =>
      // two re-runs, keep the better: the recorded median was effectively
      // a WARM number (median of 3), so a single re-run would compare a
      // cold plan (codegen + AQE re-plan) against a warm median and read
      // ~1.5x phantom drift on sub-second queries
      def one(): Double =
        secs { try SparkEntry.queries(k)(spark, sfDir).count()
               catch { case _: Throwable => () } }
      val rerun = math.min(one(), one())
      (k, med, rerun, rerun / med)
    }
    val drifts = sweep.map(_._4).sorted
    val medianDrift =
      if (drifts.isEmpty) 1.0 else drifts(drifts.size / 2)
    // two-sided: > tol = box degraded during the run; < 1/tol = the
    // recorded medians were inflated by load that cleared before the
    // sweep (round 12's committed artifact — drift 0.21 sailed through
    // the one-sided gate)
    val contaminated = medianDrift > driftTol || medianDrift < 1.0 / driftTol
    val sweepJson = sweep.map { case (k, med, rerun, d) =>
      s"""{"query":"$k","earlier_median":$med,"rerun":$rerun,"drift":$d}"""
    }.mkString("[", ",", "]")
    val loadEnd = loadavg()
    val cpuMhzEnd = cpuMhz()
    val calibEnd = Seq(calibOnce(), calibOnce(), calibOnce()).sorted.apply(1)
    // normalize by the MEAN of the start and end probes: the queries
    // executed between them, and the two probes bracket the box's
    // thermal/boost trajectory — measured on this round's A/B pair
    // (one run admitted ~5 min after a suite burst, one quiet): raw
    // totals 19% apart, end-probe normalization left 8%, mean-probe
    // normalization 2.4% — the probes caught a run that STARTED on
    // boost clocks (1.81 s) and ended warm (2.02 s), which end-only
    // normalization misattributes to the whole run
    val totalNorm = total * calibRef / ((calibStart + calibEnd) / 2)
    // The FULL per-query JSON (spreads, sweep, loadavg) is ~25 KB at
    // 222 queries — far past the driver's 2000-char stdout tail capture,
    // which was truncating the head (metric/value/most queries) every
    // round. Write the complete record to a stable file (the committed
    // per-round artifact) and print a SHORT summary line that fits the
    // tail whole: driver contract fields plus the 22 TPC-H headline
    // medians. A partial dev run (name-filter args) writes to /tmp so it
    // never clobbers the committed artifact.
    val artifactPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isEmpty) "bench_out.json" else "/tmp/bench_out_partial.json")
    // per-query cross-artifact flags against the COMMITTED artifact
    // (the file this run is about to replace, or an explicit baseline)
    // — read before the overwrite below; see perQueryOutliers. A
    // partial run (name-filter args) also compares against the
    // committed artifact, NOT the previous partial run's /tmp file —
    // that one may cover a different query subset or an older binary
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE",
      if (only.isEmpty) artifactPath else "bench_out.json")
    val outlierFactor = sys.env.get("SPARK_GRAFT_BENCH_OUTLIER_FACTOR")
      .map(_.toDouble).getOrElse(3.0)
    val baseMeds = baselineMedians(baselinePath)
    // one visible line per run: a regex break against a reordered
    // artifact would otherwise SILENTLY disable flagging (the
    // never-block-the-run catch-all hides it) — here it reads as "0
    // queries" in the artifact tail instead
    System.err.println(s"[bench] baseline parsed ${baseMeds.size} " +
      s"queries from $baselinePath")
    val curCalibFactor = ((calibStart + calibEnd) / 2) / calibRef
    val calibAdjust = baselineCalibFactor(baselinePath)
      .map(_ / curCalibFactor).getOrElse(1.0)
    val outliers = perQueryOutliers(
      results.collect { case (k, med, _, _) if !failed.contains(k) =>
        k -> med }.toMap,
      baseMeds, outlierFactor, calibAdjust = calibAdjust)
    val outliersJson = outliers.map { case (k, cur, base, r) =>
      s"""{"query":"$k","median":$cur,"baseline_median":$base,"ratio":$r}"""
    }.mkString("[", ",", "]")
    if (outliers.nonEmpty)
      System.err.println(s"[bench] ${outliers.size} per-query " +
        s"outlier(s) vs $baselinePath (>${outlierFactor}x either way, " +
        f"calib-adjusted x$calibAdjust%.3f): " +
        outliers.map { case (k, cur, base, r) =>
          f"$k $cur%.2fs vs $base%.2fs (${r}%.1fx)" }.mkString("; ") +
        " — read the totals query-wise, not wholesale")
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec","runs_per_query":$Runs,"queries":$qs,"load_sec":$loadSec,"ingest_warm_sec":$ingestWarmSec,"hygiene_sec":$hygieneSec,"n_queries":${results.size},"failed":$failedJson,"drift_sweep":$sweepJson,"median_drift":$medianDrift,"drift_tolerance":$driftTol,"contaminated":$contaminated,"per_query_outliers":$outliersJson,"outlier_factor":$outlierFactor,"outlier_calib_adjust":$calibAdjust,"baseline_n_queries":${baseMeds.size},"baseline_artifact":"$baselinePath","calib_start_sec":$calibStart,"calib_end_sec":$calibEnd,"calib_ref_sec":$calibRef,"total_calib_norm":$totalNorm,"loadavg_start":$loadStart,"loadavg_end":$loadEnd,"cpu_mhz_start":$cpuMhzStart,"cpu_mhz_end":$cpuMhzEnd,"sf":"$sfDir"}"""
    val outPath =
      if (contaminated) artifactPath + ".contaminated" else artifactPath
    if (contaminated)
      System.err.println(f"[bench] CONTAMINATED RUN: median re-run drift " +
        f"$medianDrift%.2f outside [${1.0 / driftTol}%.2f, $driftTol%.2f]" +
        " — " + (if (medianDrift > driftTol)
          "the box degraded during the run"
        else "the recorded medians were inflated by load that cleared " +
          "before the sweep") +
        s"; full record quarantined at $outPath, $artifactPath NOT written")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val headline = results
      .filter { case (k, _, _, _) => k.matches("q\\d+_.*") }
      .map { case (k, med, _, _) =>
        val sign = if (failed.contains(k)) -1 else 1
        "\"" + k + "\":" + sign * med
      }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$headline,"load_sec":$loadSec,"n_queries":${results.size},"n_failed":${failed.size},"median_drift":$medianDrift,"contaminated":$contaminated,"n_outliers":${outliers.size},"total_calib_norm":$totalNorm,"calib_end_sec":$calibEnd,"full":"$outPath","sf":"$sfDir"}""")
    spark.stop()
    lock.release()
    lockChannel.close()
  }
}
