package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.api._
import graft.inodes.InodeView

/** End-to-end tests of the HTTP front door — the analog of the reference's
  * embedded-server REST suite (`TestNNAnalyticsBase.java`): real HTTP GETs
  * against an ephemeral-port server over the sf0.001 fixture, asserting
  * status codes, response bodies vs direct engine calls, and the
  * authentication/authorization tiers.
  */
class WebServerSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"
  lazy val ino = InodeView.inodes(spark, dir).cache()

  lazy val tokens = graft.core.Tables.events(spark, dir).select(
    concat(lit("u"), (col("user_id") % 50).cast("string")).as("owner"),
    lit("").as("realUser"),
    expr("ts div 1000000").as("issueDate"))

  // open server: no users configured → auth disabled, everything allowed
  lazy val open: WebServer =
    new WebServer(spark, ino, dir, new Security.Context(Nil, "k".getBytes(UTF_8)),
      tokens = Some(tokens))

  // secured server: one user per tier
  lazy val secret = "test-secret".getBytes(UTF_8)
  lazy val secCtx = new Security.Context(Seq(
    Security.User("admin", "adminpw", Security.AllTiers),
    Security.User("reader", "readerpw", Set(Security.Reader, Security.Cache)),
    Security.User("cacher", "cacherpw", Set(Security.Cache))), secret)
  lazy val secured: WebServer = new WebServer(spark, ino, dir, secCtx)

  override def beforeAll(): Unit = {
    open.start()
    secured.start()
  }
  override def afterAll(): Unit = {
    open.stop()
    secured.stop()
    kerberizedStarted.foreach(_.stop())
  }

  case class Resp(status: Int, body: String, headers: Map[String, String])

  private def get(server: WebServer, pathAndQuery: String,
                  cookie: Option[String] = None,
                  method: String = "GET",
                  form: Option[String] = None,
                  auth: Option[String] = None): Resp = {
    val url = new URI(s"http://127.0.0.1:${server.boundPort}$pathAndQuery").toURL
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    cookie.foreach(c => conn.setRequestProperty("Cookie",
      s"${Security.CookieName}=$c"))
    auth.foreach(a => conn.setRequestProperty("Authorization", a))
    form.foreach { f =>
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/x-www-form-urlencoded")
      conn.getOutputStream.write(f.getBytes(UTF_8))
    }
    val status = conn.getResponseCode
    val stream = if (status >= 400) conn.getErrorStream else conn.getInputStream
    val body = if (stream == null) "" else new String(stream.readAllBytes(), UTF_8)
    val headers = Seq("Content-Type", "Set-Cookie", "WWW-Authenticate")
      .flatMap(h => Option(conn.getHeaderField(h)).map(h -> _)).toMap
    conn.disconnect()
    Resp(status, body, headers)
  }

  // ------------------------------------------------------------ open server

  test("/filter with sum returns the bare number the engine computes") {
    val direct = NNAQuery.execute(
      NNAQuery(set = "files", filters = "user:eq:u1", sum = Seq("count")), ino)
      .collect()(0).getLong(0)
    val r = get(open, "/filter?set=files&filters=user:eq:u1&sum=count")
    assert(r.status === 200 && r.body.trim === direct.toString)
  }

  test("/filter multi-sum returns one value per line") {
    val r = get(open, "/filter?set=files&sum=count,fileSize")
    val lines = r.body.trim.split('\n')
    assert(r.status === 200 && lines.length === 2 && lines.forall(_.toLong > 0))
  }

  test("/filter without sum dumps paths bounded by limit") {
    val r = get(open, "/filter?set=files&filters=user:eq:u1&limit=7")
    val lines = r.body.trim.split('\n')
    assert(r.status === 200 && lines.length === 7 &&
      lines.sorted.toSeq === lines.toSeq)
  }

  test("/histogram default chart output matches the engine's renderer") {
    val direct = Renderers.toChartJsJson(
      NNAQuery.execute(NNAQuery(set = "files", histType = Some("user")), ino),
      "user | count | files", "count")
    val r = get(open, "/histogram?set=files&type=user")
    assert(r.status === 200 && r.body === direct)
    assert(r.headers("Content-Type").startsWith("application/json"))
  }

  test("/histogram histogramOutput=json and csv switch renderers") {
    val df = NNAQuery.execute(NNAQuery(set = "files", histType = Some("user")), ino)
    val j = get(open, "/histogram?set=files&type=user&histogramOutput=json")
    assert(j.status === 200 && j.body === Renderers.toJson(df))
    val c = get(open, "/histogram?set=files&type=user&histogramOutput=csv")
    assert(c.status === 200 && c.body === Renderers.toCsv(df))
  }

  test("/histogram2 returns the nested two-level map") {
    val direct = Renderers.twoLevelToJson(NNAQuery.execute(
      NNAQuery(set = "files", histType = Some("user"),
        histType2 = Some("fileType")), ino))
    val r = get(open, "/histogram2?set=files&type=user&type2=fileType")
    assert(r.status === 200 && r.body === direct)
  }

  test("/histogram3 multi-sum CSV has one column per sum") {
    val r = get(open, "/histogram3?set=files&type=user&sum=count,fileSize,diskspaceConsumed")
    val header = r.body.split('\n')(0)
    assert(r.status === 200 &&
      header === "key,count,fileSize,diskspaceConsumed")
  }

  test("/divide returns the ppm ratio of two filter sums") {
    val r = get(open, "/divide?set1=files&filters1=user:eq:u1&sum1=count&set2=files&sum2=count")
    val direct = NNAQuery.divide(
      NNAQuery(set = "files", filters = "user:eq:u1", sum = Seq("count")),
      NNAQuery(set = "files", sum = Seq("count")), ino).collect()(0).getLong(0)
    assert(r.status === 200 && r.body.trim.toLong === direct)
  }

  // a real fixture directory (the parent of some file) to dump/summarize
  lazy val someDir: String =
    ino.where(col("isFile")).select(col("parent")).limit(1).collect()(0).getString(0)

  test("/contentSummary returns recursive counts for a path") {
    val r = get(open, s"/contentSummary?path=$someDir")
    val direct = graft.engine.Aggregates.contentSummary(ino, someDir).collect()(0)
    assert(r.status === 200 &&
      r.body.contains(s""""fileCount": ${direct.getLong(0)}""") &&
      direct.getLong(0) > 0)
  }

  test("/dump lists every path under a directory") {
    val expected = ino
      .where(col("path") === someDir || col("path").startsWith(someDir + "/"))
      .count()
    val r = get(open, s"/dump?path=$someDir")
    val lines = r.body.trim.split('\n')
    assert(r.status === 200 && lines.length === expected &&
      lines.forall(_.startsWith(someDir)) && lines.sorted.toSeq === lines.toSeq)
  }

  test("/query runs any registry operator; /queries enumerates names") {
    val r = get(open, "/query?name=events_hourly")
    assert(r.status === 200)
    val lines = r.body.trim.split('\n')
    assert(lines.head === "event_type,hour_epoch,n,value_cents")
    assert(lines.length > 1)
    val names = get(open, "/queries")
    assert(names.status === 200)
    assert(names.body.contains("\"events_hourly\"") &&
      names.body.contains("\"nna_histogram_user\""))
    assert(get(open, "/query?name=no_such").status === 400)
    // &explain returns the physical plan text without executing
    val ex1 = get(open, "/query?name=events_hourly&explain=formatted")
    assert(ex1.status === 200 && ex1.body.contains("== Physical Plan ==") &&
      ex1.body.contains("Scan parquet"))
    assert(get(open,
      "/query?name=events_hourly&explain=bogus").status === 400)
  }

  test("/sql executes a statement over the registered views") {
    val r = get(open, "/sql", method = "POST",
      form = Some("sqlStatement=" + java.net.URLEncoder.encode(
        "SELECT count(*) AS n FROM files", UTF_8)))
    assert(r.status === 200 && r.body.split('\n')(0) === "n")
  }

  test("/suggestions returns the cached scalar census") {
    val r = get(open, "/suggestions")
    assert(r.status === 200 && r.body.contains("\"numFiles\"") &&
      r.body.contains("\"emptyDirs\""))
  }

  test("/users?suggestion= returns a user->value map") {
    val r = get(open, "/users?suggestion=numFiles")
    assert(r.status === 200 && r.body.contains("\"u1\""))
  }

  test("/top slices the heaviest users per issue metric") {
    val r = get(open, "/top?limit=3")
    assert(r.status === 200 && r.body.contains("\"numFiles\""))
  }

  test("suggestions readers serve from the server cache: zero Spark jobs") {
    get(open, "/suggestions") // warm the cache
    get(open, "/quotas"); get(open, "/fileAge"); get(open, "/fileTypes")
    val (_, a) = SparkActivity.measure(spark) {
      get(open, "/suggestions")
      get(open, "/users?suggestion=numFiles")
      get(open, "/top?limit=3")
      get(open, "/quotas")
      get(open, "/fileAge")
      get(open, "/fileTypes")
    }
    assert(a.jobs === 0)
  }

  test("/suggestions after a reload serves pre-warmed, zero jobs on the request path") {
    // directive: the first GET after /reloadNamespace must NOT compute
    // the namespace census on the request thread — the reload triggers a
    // background warm (reference: SuggestionsEngine's reload thread) and
    // readers serve cached rows. Probe: count Spark jobs during the GETs.
    assert(get(open, "/reloadNamespace").status === 200)
    open.awaitSuggestionWarm() // background warm completes off-thread
    val (_, a) = SparkActivity.measure(spark) {
      assert(get(open, "/suggestions").status === 200)
      assert(get(open, "/quotas").status === 200)
      assert(get(open, "/fileAge").status === 200)
      assert(get(open, "/fileTypes").status === 200)
    }
    assert(a.jobs === 0,
      "post-reload suggestions GETs ran namespace jobs on the request path")
  }

  test("/refresh serves stale-but-instant while the re-warm runs, then swaps") {
    assert(get(open, "/refresh").status === 200)
    // the refresh response returns before the warm; readers still answer
    assert(get(open, "/suggestions").status === 200)
    open.awaitSuggestionWarm()
    assert(get(open, "/suggestions").status === 200)
  }

  test("static dashboard serves at / and /ui; data endpoints stay tiered") {
    val root = get(open, "/")
    assert(root.status === 200 && root.body.contains("<title>Graft"))
    assert(root.body.contains("/histogram?"),
      "the page must drive the real histogram endpoint")
    assert(get(open, "/ui").status === 200)
    // stored-XSS guard: every namespace-derived string (paths, usernames,
    // histogram labels) must pass through esc() before innerHTML — a raw
    // ${u} / ${vals[0]} / ${labels[i]} interpolation is script execution
    // for anyone who can create a file in the ingested namespace
    assert(root.body.contains("function esc("),
      "dashboard must define the HTML escaper")
    for (raw <- Seq("${u}", "${vals[0]}", "${labels[i]}", "${k}", "${o}",
        "${kv[0]}", "${kv[1]}", "${k2}", "${sys[k2]}", "${sug[k2]}"))
      assert(!root.body.contains(raw),
        s"unescaped server-string interpolation $raw in the dashboard")
    // multi-view parity with the reference webapp's page families
    // (webapps/nna/{users,quotas,fileTypes,histogram2,history,sql,
    // metrics,namespace}.html): one hash-routed view per family, each
    // driving the matching data endpoint
    for (view <- Seq("overview", "histogram", "users", "quotas",
        "filetypes", "ages", "history", "sql", "queries", "token",
        "metrics", "namespace"))
      assert(root.body.contains(s"""data-view="$view""""),
        s"dashboard must carry the $view view")
    for (ep <- Seq("/quotas", "/fileTypes", "/fileAge", "/history",
        "/sql", "/token", "/system", "/metrics", "/listOperations",
        "/histogram2?", "/top?", "/queries", "/query?name="))
      assert(root.body.contains(ep),
        s"dashboard must drive the real $ep endpoint")
    // the unauthenticated SHELL serves on a secured server too, while
    // its data calls still 401 (the login-panel flow)
    assert(get(secured, "/").status === 200)
    assert(get(secured, "/suggestions").status === 401)
  }

  test("/fileTypes returns the per-user fileType breakdown") {
    val r = get(open, "/fileTypes")
    assert(r.status === 200 && r.body.startsWith("{") && r.body.contains("\"u1\""))
  }

  test("/token serves last-login per user from the tokens frame") {
    val r = get(open, "/token")
    assert(r.status === 200 && r.body.contains("\"u1\""))
  }

  test("cached query lifecycle over HTTP: set, get, remove") {
    val set = get(open, "/setCachedQuery?name=webq&set=files&filters=user:eq:u1&sum=count")
    assert(set.status === 200)
    CachedQueries.refresh(ino, InodeView.NowMs) // one suggestions cycle
    val got = get(open, "/getCachedQuery?name=webq")
    assert(got.status === 200 && got.body.split('\n')(0) === "count")
    val rm = get(open, "/removeCachedQuery?name=webq")
    assert(rm.status === 200 &&
      get(open, "/getCachedQuery?name=webq").status === 404)
  }

  test("/submitOperation runs a stubbed operation and returns its id") {
    val r = get(open, "/submitOperation?set=files&filters=user:eq:u1&operation=delete&limit=3")
    assert(r.status === 200 && r.body.trim.length === 36) // UUID
    assert(get(open, "/listOperations").status === 200)
  }

  test("introspection enums list the engine's actual vocabulary") {
    assert(get(open, "/sets").body.contains("\"dirs\""))
    assert(get(open, "/sums").body.contains("\"diskspaceConsumed\""))
    assert(get(open, "/filterOps").body.contains("\"olderThanYears\""))
    assert(get(open, "/histograms").body.contains("\"fileType\""))
    assert(get(open, "/endpoints").body.contains("\"histogram3\""))
    assert(get(open, "/histogramOutputs").body.contains("\"chart\""))
  }

  test("admin info endpoints serve real runtime data") {
    assert(get(open, "/info").body.contains("\"sparkVersion\""))
    assert(get(open, "/system").body.contains("\"heapUsed\""))
    assert(get(open, "/threads").body.contains("\"count\""))
    assert(get(open, "/loadingStatus").body === """{"loaded": true}""")
    assert(get(open, "/config").body.contains("spark.sql."))
    val log = get(open, "/log")
    assert(log.status === 200 && log.body.contains("GET /info"))
  }

  test("/saveNamespace + /fetchNamespace roundtrip the snapshot") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ns-web").toString + "/ns"
    assert(get(open, s"/saveNamespace?dir=$tmp").status === 200)
    assert(get(open, s"/fetchNamespace?dir=$tmp").status === 200)
    assert(open.currentInodes.count() === ino.count())
  }

  test("queries run concurrently: no global query lock") {
    // the reference serializes every query behind NNA_QUERY_LOCK
    // (NamenodeAnalyticsMethods.java:1421); snapshot immutability makes
    // that unnecessary here — 8 parallel /filter calls must all succeed
    // and agree with the direct engine results
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val users = (0 until 8).map(i => s"u${i % 10}")
    val expected = users.map { u =>
      NNAQuery.execute(NNAQuery(set = "files", filters = s"user:eq:$u",
        sum = Seq("count")), ino).collect()(0).getLong(0)
    }
    val got = Await.result(Future.sequence(users.map { u =>
      Future(get(open, s"/filter?set=files&filters=user:eq:$u&sum=count"))
    }), 120.seconds)
    assert(got.forall(_.status == 200))
    assert(got.map(_.body.trim.toLong) === expected)
  }

  test("/history reports completed suggestions-service cycles") {
    val svc = new SuggestionsService.Service(spark, ino, None, intervalMs = 50)
    val hist: WebServer = new WebServer(spark, ino, dir,
      new Security.Context(Nil, "k".getBytes(UTF_8)), suggestionsService = Some(svc))
    hist.start()
    try {
      svc.start()
      val deadline = System.currentTimeMillis() + 90000
      while (svc.history.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val r = get(hist, "/history")
      assert(r.status === 200 && r.body.contains("\"users\""))
    } finally { svc.stop(); hist.stop() }
  }

  test("/sketchHistory serves window distincts and moving percentiles " +
      "from the per-cycle sketch rows") {
    import org.apache.spark.sql.functions.col
    val hp = java.nio.file.Files.createTempDirectory("skh").toString + "/h"
    val svc = new SuggestionsService.Service(spark, ino, Some(hp),
      intervalMs = 50)
    val srv: WebServer = new WebServer(spark, ino, dir,
      new Security.Context(Nil, "k".getBytes(UTF_8)),
      historyPath = Some(hp), suggestionsService = Some(svc))
    srv.start()
    try {
      svc.start()
      val deadline = System.currentTimeMillis() + 90000
      while (svc.history.size < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(svc.history.size >= 2, "cycles never completed")
      val r = get(srv, "/sketchHistory")
      assert(r.status === 200)
      // distinct owners across all cycles == exact (sparse regime)
      val exactUsers = ino.where(col("isFile")).select("user")
        .distinct().count()
      assert(r.body.contains(s""""n_users": $exactUsers"""), r.body)
      assert(r.body.contains("\"p99\":") && r.body.contains("\"n_files\":"))
      // a window bounded to exclude everything is empty but not an error
      val empty = get(srv, "/sketchHistory?from=1&to=2")
      assert(empty.status === 200 && empty.body.contains("\"cycles\": []"))
    } finally { svc.stop(); srv.stop() }
  }

  test("incremental census service: folded refresh cycles serve values " +
      "identical to a full recompute, no namespace-sized scan") {
    import org.apache.spark.sql.functions._
    val now = 1700000000000L
    val root = java.nio.file.Files.createTempDirectory("incsvc").toString
    // the namespace lives on parquet path-range-clustered and partitioned
    // by isFile — the metadata-store layout the engine's own compaction/
    // layout family maintains — so the fold's touched-slice and dirs-only
    // scans PRUNE instead of rescanning (that pruning is what the input-
    // records probe below asserts)
    def writeNs(df: org.apache.spark.sql.DataFrame, name: String)
        : org.apache.spark.sql.DataFrame = {
      // partition dirs vs files via a derived STRING key (a boolean
      // partition column reads back as string — no type inference for
      // booleans), dropped on read; isFile itself stays a data column,
      // so the dirs-only scan prunes via all-true/all-false row-group
      // stats and the touched-slice scans via path min/max
      df.withColumn("part", when(col("isFile"), "f").otherwise("d"))
        .repartitionByRange(16, col("part"), col("path"))
        .write.partitionBy("part").parquet(s"$root/$name")
      spark.read.parquet(s"$root/$name").drop("part")
    }
    def fileRows(ids: org.apache.spark.sql.Dataset[_]) = ids.select(col("id"),
      format_string("/data/d%04d/f%06d", pmod(col("id"), lit(1200L)),
        col("id")).as("path"),
      lit(true).as("isFile"),
      concat(lit("u"), pmod(col("id"), lit(50L))).as("user"),
      (col("id") * 7331L % 300000000L).as("fileSize"),
      (col("id") % 1000000L).as("modTime"),
      (col("id") % 2000000L).as("accessTime"),
      lit(1L).as("numBlocks"), lit(3L).as("fileReplica"),
      lit(-1L).as("nsQuota"), lit(-1L).as("dsQuota"),
      lit(false).as("hasQuota"), lit(0L).as("dirNumChildren"),
      lit(0L).as("nsQuotaUsed"), lit(0L).as("dsQuotaUsed"))
      .withColumn("name", element_at(split(col("path"), "/"), -1))
    val dirs0 = spark.range(1200).select((col("id") + 900000000L).as("id"),
      format_string("/data/d%04d", col("id")).as("path"),
      lit(false).as("isFile"),
      concat(lit("u"), pmod(col("id"), lit(50L))).as("user"),
      lit(0L).as("fileSize"), lit(0L).as("modTime"),
      lit(0L).as("accessTime"), lit(0L).as("numBlocks"),
      lit(0L).as("fileReplica"),
      when(col("id") % 7 === 0, 1000L).otherwise(-1L).as("nsQuota"),
      lit(-1L).as("dsQuota"), (col("id") % 7 === 0).as("hasQuota"),
      pmod(col("id"), lit(30L)).as("dirNumChildren"),
      pmod(col("id"), lit(990L)).as("nsQuotaUsed"),
      lit(0L).as("dsQuotaUsed"))
      .withColumn("name", element_at(split(col("path"), "/"), -1))
    val before = writeNs(fileRows(spark.range(40000)).unionByName(dirs0),
      "before")
    // delta 1: every file of /data/d0007 grows 1000 bytes; 20 new files
    val d7 = col("path").startsWith("/data/d0007/")
    val added1 = fileRows(spark.range(20).select((col("id") + 500000L)
        .as("id")))
      .withColumn("path", format_string("/data/d0007/g%06d", col("id")))
      .withColumn("name", element_at(split(col("path"), "/"), -1))
    val after1 = writeNs(before.where(!d7)
      .unionByName(before.where(d7)
        .withColumn("fileSize", col("fileSize") + 1000L))
      .unionByName(added1), "after1")
    val ops1 = before.where(d7)
      .select(lit("OP_CLOSE").as("opcode"), col("path"))
      .unionByName(added1.select(lit("OP_ADD").as("opcode"), col("path")))
      .withColumn("dst", lit(""))
      .withColumn("srcs", lit(null).cast("array<string>"))
    // delta 2: the /data/d0008 subtree (dir incl.) is deleted; /data/d0009
    // files change
    val d8 = col("path") === "/data/d0008" ||
      col("path").startsWith("/data/d0008/")
    val d9 = col("path").startsWith("/data/d0009/")
    val after2 = writeNs(after1.where(!d8 && !d9)
      .unionByName(after1.where(d9)
        .withColumn("fileSize", col("fileSize") + 2000L)), "after2")
    val ops2 = spark.range(1)
      .select(lit("OP_DELETE").as("opcode"), lit("/data/d0008").as("path"))
      .unionByName(after1.where(d9)
        .select(lit("OP_TIMES").as("opcode"), col("path")))
      .withColumn("dst", lit(""))
      .withColumn("srcs", lit(null).cast("array<string>"))
    val snaps = Iterator(before, after1, after2)
    val opss = Iterator(ops1, ops2)
    val svc = new SuggestionsService.Service(spark, before, None,
      intervalMs = 3600000L, clock = () => now,
      snapshotProvider = Some(() => snaps.next()),
      editTailProvider = Some(() => opss.next()))
    val ws: WebServer = new WebServer(spark, before, dir,
      new Security.Context(Nil, "k".getBytes(UTF_8)),
      suggestionsService = Some(svc))
    ws.start()
    try {
      def awaitCycles(k: Int): Unit = {
        val dl = System.currentTimeMillis() + 60000
        while (svc.history.size < k && System.currentTimeMillis() < dl)
          Thread.sleep(50)
        assert(svc.history.size >= k, s"cycle $k never completed")
      }
      // probe: input records per job-group family — "no namespace-sized
      // scan" is asserted mechanically, not by wall time
      def inc(g: String) = g.startsWith("graft-suggestions-cycle-incremental")
      val ((_, incAct), fullAct) = SparkActivity.measure(spark,
          g => g.startsWith("graft-suggestions-cycle") && !inc(g)) {
        SparkActivity.measure(spark, inc) {
          svc.runNow(); awaitCycles(1) // full rebase: seeds the fold state
          svc.runNow(); awaitCycles(2) // incremental fold of delta 1
          svc.runNow(); awaitCycles(3) // incremental fold of delta 2
        }
      }
      val incRecs = incAct.inputRecords
      val fullRecs = fullAct.inputRecords
      // folded state ≡ a full recompute over the final namespace at the
      // REBASE-PINNED epoch, scalar census and per-user maps both
      val st = svc.latestCensus.get
      assert(st.folds === 2 && st.asOfMs === now)
      val expected = Suggestions.cachedValues(after2, now).head
      assert(st.census.head.toSeq === expected.toSeq)
      val expMaps = Suggestions.cachedUserMaps(after2, now)
        .orderBy("user").collect().map(_.toSeq)
      assert(st.userMaps.orderBy("user").collect().map(_.toSeq).toSeq
        === expMaps.toSeq)
      // ...and the HTTP door serves the folded values from the cache
      ws.awaitSuggestionWarm()
      val r = this.get(ws, "/suggestions")
      assert(r.status === 200)
      assert(r.body.contains(
        s""""numFiles": ${expected.getAs[Long]("numFiles")}"""), r.body)
      // the probe: both incremental cycles TOGETHER read a fraction of
      // one full pass (touched slices + dirs partition), while the full
      // rebase read the namespace multiple times
      assert(fullRecs > 40000L,
        s"full rebase should scan the namespace: $fullRecs")
      assert(incRecs < fullRecs / 2,
        s"incremental ticks must not rescan the namespace: " +
          s"inc=$incRecs full=$fullRecs")
    } finally {
      svc.stop(); ws.stop()
    }
  }

  test("registered cached queries refresh on EVERY service tick, " +
      "incremental folds included") {
    // freshness contract: the reference re-runs the registered-query
    // registry on every 15-minute cycle (SuggestionsEngine
    // .performCustomQueries, ~:744-1010) — an incremental fold tick must
    // not leave /getCachedQuery serving the pre-delta namespace until the
    // next full rebase (up to 24 h at the default cadence)
    val now = 1700000000000L
    def files(ids: org.apache.spark.sql.Dataset[java.lang.Long]) = ids.select(
      col("id"),
      format_string("/fresh/f%06d", col("id")).as("path"),
      lit(true).as("isFile"), lit("u1").as("user"),
      lit(100L).as("fileSize"), lit(0L).as("modTime"),
      lit(0L).as("accessTime"), lit(1L).as("numBlocks"),
      lit(3L).as("fileReplica"), lit(-1L).as("nsQuota"),
      lit(-1L).as("dsQuota"), lit(false).as("hasQuota"),
      lit(0L).as("dirNumChildren"), lit(0L).as("nsQuotaUsed"),
      lit(0L).as("dsQuotaUsed"))
      .withColumn("name", element_at(split(col("path"), "/"), -1))
    val before = files(spark.range(10)).localCheckpoint()
    val add1 = files(spark.range(10, 14)).localCheckpoint()
    val add2 = files(spark.range(14, 17)).localCheckpoint()
    val after1 = before.unionByName(add1).localCheckpoint()
    val after2 = after1.unionByName(add2).localCheckpoint()
    def ops(added: org.apache.spark.sql.DataFrame) = added
      .select(lit("OP_ADD").as("opcode"), col("path"))
      .withColumn("dst", lit(""))
      .withColumn("srcs", lit(null).cast("array<string>"))
    val snaps = Iterator(before, after1, after2)
    val opss = Iterator(ops(add1), ops(add2))
    val svc = new SuggestionsService.Service(spark, before, None,
      intervalMs = 3600000L, clock = () => now,
      snapshotProvider = Some(() => snaps.next()),
      editTailProvider = Some(() => opss.next()))
    val ws: WebServer = new WebServer(spark, before, dir,
      new Security.Context(Nil, "k".getBytes(UTF_8)),
      suggestionsService = Some(svc))
    ws.start()
    try {
      def awaitCycles(k: Int): Unit = {
        val dl = System.currentTimeMillis() + 60000
        while (svc.history.size < k && System.currentTimeMillis() < dl)
          Thread.sleep(50)
        assert(svc.history.size >= k, s"cycle $k never completed")
      }
      def served(): Long = {
        val r = get(ws, "/getCachedQuery?name=freshq")
        assert(r.status === 200, r.body)
        r.body.trim.split('\n')(1).trim.toLong
      }
      assert(get(ws, "/setCachedQuery?name=freshq&set=files" +
        "&filters=user:eq:u1&sum=count").status === 200)
      svc.runNow(); awaitCycles(1) // full rebase seeds the fold state
      assert(served() === 10L)
      svc.runNow(); awaitCycles(2) // incremental tick over delta 1
      assert(served() === 14L,
        "incremental tick must re-run registered queries (freshness)")
      svc.runNow(); awaitCycles(3) // incremental tick over delta 2
      assert(served() === 17L,
        "second incremental tick must also refresh the registry")
      assert(svc.latestCensus.get.folds === 2,
        "ticks 2 and 3 must have been incremental folds, not rebases")
    } finally {
      svc.stop(); ws.stop(); CachedQueries.remove("freshq")
    }
  }

  // email sink: recording transport instead of SMTP (environment, not
  // analytics — the gate+subject+body plumbing is what's under test)
  lazy val sentMail =
    new java.util.concurrent.ConcurrentLinkedQueue[(Seq[String], String, String)]()
  lazy val mailing: WebServer =
    new WebServer(spark, ino, dir, new Security.Context(Nil, "k".getBytes(UTF_8)),
      emailTransport = (to, subj, body) => sentMail.add((to, subj, body)))

  test("/filter email sink fires only when conditions hold") {
    mailing.start()
    try {
      val base = "/filter?set=files&filters=user:eq:u1&sum=count" +
        "&emailTo=a@x,b@x&emailHost=smtp&emailFrom=nna@x"
      // count for u1 is > 0, so gt:0 passes and an impossible bound fails
      get(mailing, base + "&emailConditions=gt:0")
      get(mailing, base + "&emailConditions=gt:999999999")
      assert(sentMail.size === 1)
      val (to, subj, body) = sentMail.peek()
      assert(to === Seq("a@x", "b@x") && subj.contains("count | files") &&
        body.trim.toLong > 0)
      // missing emailHost → no send even with passing conditions
      get(mailing, "/filter?set=files&sum=count&emailTo=a@x&emailFrom=nna@x")
      assert(sentMail.size === 1)
    } finally mailing.stop()
  }

  test("malformed queries get a 400, unknown endpoints a 404") {
    assert(get(open, "/histogram?set=files&type=noSuchKey").status === 400)
    assert(get(open, "/filter?set=files&filters=user:noSuchOp:u1&sum=count").status === 400)
    assert(get(open, "/noSuchEndpoint").status === 404)
  }

  // --------------------------------------------------------- secured server

  test("secured: unsecured endpoints pass without a token") {
    assert(get(secured, "/sets").status === 200)
    assert(get(secured, "/endpoints").status === 200)
  }

  test("secured: query endpoints require a token (401)") {
    assert(get(secured, "/filter?set=files&sum=count").status === 401)
    assert(get(secured, "/suggestions").status === 401)
  }

  test("secured: login issues a cookie; bad credentials get 401") {
    assert(get(secured, "/login", method = "POST",
      form = Some("username=reader&password=wrong")).status === 401)
    val ok = get(secured, "/login", method = "POST",
      form = Some("username=reader&password=readerpw"))
    assert(ok.status === 200 &&
      ok.headers("Set-Cookie").contains(Security.CookieName))
    // CSRF defense: the admin surface is GET-based (reference parity),
    // so the session cookie must never ride a cross-site request, and
    // scripts must not be able to read it
    assert(ok.headers("Set-Cookie").contains("SameSite=Strict"))
    assert(ok.headers("Set-Cookie").contains("HttpOnly"))
  }

  private def tokenFor(user: String, pw: String): String = {
    val r = get(secured, "/login", method = "POST",
      form = Some(s"username=$user&password=$pw"))
    r.headers("Set-Cookie").split(';')(0).split('=')(1)
  }

  test("secured: reader tier can query but not administrate (403)") {
    val t = tokenFor("reader", "readerpw")
    assert(get(secured, "/filter?set=files&sum=count", Some(t)).status === 200)
    assert(get(secured, "/suggestions", Some(t)).status === 200) // cache tier
    assert(get(secured, "/metrics", Some(t)).status === 403)
    assert(get(secured, "/saveNamespace", Some(t)).status === 403)
    assert(get(secured, "/submitOperation?operation=delete", Some(t)).status === 403)
  }

  test("secured: cache-only tier reads caches but cannot run queries") {
    val t = tokenFor("cacher", "cacherpw")
    assert(get(secured, "/suggestions", Some(t)).status === 200)
    assert(get(secured, "/filter?set=files&sum=count", Some(t)).status === 403)
  }

  test("secured: admin tier reaches admin endpoints; /credentials reports tiers") {
    val t = tokenFor("admin", "adminpw")
    assert(get(secured, "/metrics", Some(t)).status === 200)
    assert(get(secured, "/queryGuard", Some(t)).status === 200)
    val cred = get(secured, "/credentials", Some(t))
    assert(cred.body.contains("\"admin\"") && cred.body.contains("\"ADMIN\""))
  }

  test("secured: a tampered token is rejected") {
    val t = tokenFor("admin", "adminpw")
    val tampered = t.dropRight(2) + "xx"
    assert(get(secured, "/filter?set=files&sum=count", Some(tampered)).status === 401)
  }

  // ---------------------------------------------------- SPNEGO transport
  // Kerberos-only server (no local users): the GSS acceptor is stubbed
  // (no KDC in the sandbox — the reference's own MiniKDC suite has the
  // same boundary); everything HTTP is real: challenge on 401, token
  // parse, mutual-auth response header, session-cookie handoff, tiers.
  lazy val spnegoStub = new NegotiateValidator {
    def accept(token: Array[Byte]) =
      new String(token, UTF_8) match {
        case "alice-ticket" =>
          Right(("alice@EXAMPLE.COM", Some("mutual-proof".getBytes(UTF_8))))
        case "mallory-ticket" => Left("checksum mismatch")
        case other => Left(s"unknown token: $other")
      }
  }
  private var kerberizedStarted: Option[WebServer] = None
  lazy val kerberized: WebServer = {
    val ws = new WebServer(spark, ino, dir,
      new Security.Context(Nil, secret,
        spnegoTiers = Map("alice" -> Set(Security.Reader, Security.Cache))),
      spnego = Some(new SpnegoAuth(spnegoStub)))
    ws.start(); kerberizedStarted = Some(ws); ws
  }
  def negotiate(payload: String): String =
    "Negotiate " + java.util.Base64.getEncoder
      .encodeToString(payload.getBytes(UTF_8))

  test("spnego: unauthenticated request gets 401 with a Negotiate challenge") {
    val r = get(kerberized, "/filter?set=files&sum=count")
    assert(r.status === 401)
    assert(r.headers.get("WWW-Authenticate").contains("Negotiate"), r.headers)
  }

  test("spnego: a valid Negotiate token authenticates, returns the mutual " +
      "token, and hands off to a session cookie") {
    val r = get(kerberized, "/filter?set=files&sum=count",
      auth = Some(negotiate("alice-ticket")))
    assert(r.status === 200)
    // realm stripped: alice@EXAMPLE.COM acts (and is authorized) as alice
    val mutual = java.util.Base64.getEncoder
      .encodeToString("mutual-proof".getBytes(UTF_8))
    assert(r.headers.get("WWW-Authenticate").contains(s"Negotiate $mutual"),
      r.headers)
    // one Kerberos round-trip per session: the issued cookie works alone
    val cookie = r.headers("Set-Cookie")
      .split(';').head.stripPrefix(s"${Security.CookieName}=")
    val r2 = get(kerberized, "/suggestions", Some(cookie))
    assert(r2.status === 200)
    val cred = get(kerberized, "/credentials", Some(cookie))
    assert(cred.body.contains("\"alice\"") && cred.body.contains("\"READER\""))
  }

  test("spnego: authentication is not authorization — alice holds no " +
      "admin tier (403); rejected and malformed tokens re-challenge (401)") {
    assert(get(kerberized, "/metrics",
      auth = Some(negotiate("alice-ticket"))).status === 403)
    val bad = get(kerberized, "/filter?set=files&sum=count",
      auth = Some(negotiate("mallory-ticket")))
    assert(bad.status === 401)
    assert(bad.headers.get("WWW-Authenticate").contains("Negotiate"))
    assert(get(kerberized, "/filter?set=files&sum=count",
      auth = Some("Negotiate !!not-base64!!")).status === 401)
    // a foreign scheme is no attempt at all → plain challenge
    assert(get(kerberized, "/filter?set=files&sum=count",
      auth = Some("Basic YWxpY2U6cHc=")).status === 401)
  }

  test("token expiry honored under an injected clock") {
    var now = 1000L
    val ctx = new Security.Context(
      Seq(Security.User("u", "p", Security.AllTiers)), secret,
      tokenTtlMs = 500L, clock = () => now)
    val tok = ctx.login("u", "p").get
    assert(ctx.validate(tok).contains("u"))
    now = 2000L // past expiry
    assert(ctx.validate(tok).isEmpty)
  }
}
