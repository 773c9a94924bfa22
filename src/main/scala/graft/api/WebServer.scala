package graft.api

import java.io.OutputStream
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{QueryChecker, SqlShim}
import graft.inodes.InodeView

/** The HTTP front door — the reference's REST contract
  * (`analytics/web/NamenodeAnalyticsMethods.java`, SparkJava twin
  * `analytics/WebServerMain.java`; endpoint enum `Constants.java:241-296`)
  * re-expressed over the Spark engine, on the JDK's built-in
  * `com.sun.net.httpserver` — zero extra dependencies.
  *
  * Differences from the reference, by design:
  *  - **No global query write-lock** (`NNA_QUERY_LOCK`,
  *    `NamenodeAnalyticsMethods.java:1421`): the namespace snapshot is an
  *    immutable DataFrame, so queries run concurrently; the JDK server's
  *    thread pool is the only throttle. Cancellation is per-query via
  *    [[QueryGuard]] job groups instead of one global cancel flag.
  *  - Query strings and response shapes mirror the reference (`/filter`
  *    returns a bare number for `sum`, `/histogram` returns Chart.js JSON
  *    by default, `histogramOutput=csv|json` switch, etc.) so an NNA user's
  *    existing calls port unchanged.
  *  - All heavy work is a Spark plan; the handlers only parse parameters,
  *    call the same engine entry points the Scala API exposes, and render
  *    collected histogram-sized results.
  */
final class WebServer(
    spark: SparkSession,
    initialInodes: DataFrame,
    dataDir: String,
    sec: Security.Context,
    tokens: Option[DataFrame] = None,
    historyPath: Option[String] = None,
    suggestionsService: Option[SuggestionsService.Service] = None,
    // SPNEGO transport (RFC 4559): when set, a request without a valid
    // session cookie may authenticate via `Authorization: Negotiate`,
    // and 401s carry the `WWW-Authenticate: Negotiate` challenge
    spnego: Option[SpnegoAuth] = None,
    port: Int = 0,
    // email sink transport (S8): (recipients, subject, body). SMTP is
    // environment, not analytics (`MailOutput.java`) — default logs the
    // delivery; production injects a real sender.
    emailTransport: (Seq[String], String, String) => Unit =
      (to, subject, _) => ()) {

  @volatile private var inodes: DataFrame = initialInodes
  @volatile private var loaded: Boolean = true

  /** Suggestions served from a server-side cache, like the reference
    * (`SuggestionsEngine` caches its analysis between reload cycles —
    * `/suggestions` never scans the namespace). The cache is PRE-WARMED
    * in the background (`SuggestionsEngine.java:136`: a dedicated reload
    * thread, never the request path): a (re)load triggers an async warm
    * of a NEW cache over the new snapshot, and readers keep serving the
    * previous cycle's results until the warmed one swaps in — a
    * `/suggestions` GET right after `/reloadNamespace` answers instantly
    * instead of stalling for the census. When a scheduled
    * [[SuggestionsService]] is attached, each completed cycle re-warms
    * too, so the HTTP cache tracks the service cadence. At 100 TB each
    * GET staying off the namespace is the difference between a dashboard
    * and a DoS. */
  private final class SuggestionCache(snapshot: DataFrame) {
    // folded-state fast path: a service running incremental cycles hands
    // the cache its already-folded census frames (1 row + |users| rows,
    // checkpointed) — collecting those is O(users), so a cache re-warm
    // after an incremental tick never rescans the namespace. Absent a
    // service (or before its first cycle) the warm computes from scratch.
    private def folded = suggestionsService.flatMap(_.latestCensus)
    lazy val values: Row = folded.map(_.census.collect()(0))
      .getOrElse(Suggestions.cachedValues(snapshot).collect()(0))
    lazy val userMaps: Array[Row] =
      folded.map(_.userMaps.orderBy("user").collect())
        .getOrElse(Suggestions.cachedUserMaps(snapshot).orderBy("user").collect())
    lazy val userQuotas: Array[Row] =
      Suggestions.cachedUserQuotas(snapshot).orderBy("user").collect()
    lazy val ages: Array[Row] = Suggestions.fileAges(spark, snapshot).collect()
    lazy val fileTypes: Array[Row] = NNAQuery.execute(NNAQuery(set = "files",
      histType = Some("user"), histType2 = Some("fileType")), snapshot).collect()
    /** Force every field (the warmer thread's whole job). */
    def warm(): this.type = { values; userMaps; userQuotas; ages; fileTypes; this }
  }
  @volatile private var suggestionCache = new SuggestionCache(initialInodes)
  private val cacheWarmer =
    java.util.concurrent.Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "graft-suggestion-warmer")
      t.setDaemon(true); t
    }
  /** Async warm-and-swap: readers serve the OLD cache until the new one
    * is fully computed (stale-but-instant, the reference's model). A warm
    * that throws (a cycle's checkpointed frames torn down mid-collect by
    * a service/server stop race, a cancelled snapshot) keeps serving the
    * previous cache instead of killing the warmer thread — the next
    * cycle's re-warm retries with fresh frames. */
  private def invalidateCaches(): Unit = {
    val next = new SuggestionCache(inodes)
    cacheWarmer.execute(() =>
      try { next.warm(); suggestionCache = next }
      catch { case e: Exception =>
        log(s"suggestion cache warm failed (serving previous): $e")
      })
  }
  /** Test hook: block until queued warms have completed. */
  private[graft] def awaitSuggestionWarm(): Unit =
    cacheWarmer.submit(new Runnable { def run(): Unit = () }).get()
  // a scheduled service's completed cycles re-warm the HTTP cache, so
  // /suggestions always serves the last cycle (directive: the cache is
  // never cold after a cycle, and never computed on a request thread)
  suggestionsService.foreach(_.onCycleComplete(_ => invalidateCaches()))
  // warm the initial cache off-thread too (the reference analyzes on
  // namespace load, before the first dashboard hit)
  invalidateCaches()
  private val startedAtMs = System.currentTimeMillis()
  private val requestCount = new AtomicLong()
  private val watchedDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  // ring buffer backing /log — the reference serves its log4j file (/log)
  private val logLines = new java.util.concurrent.ConcurrentLinkedDeque[String]()
  private val MaxLogLines = 1000

  private val server: HttpServer = HttpServer.create(new InetSocketAddress(port), 0)
  server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
  server.createContext("/", handle _)

  def start(): Unit = server.start()
  def stop(): Unit = { cacheWarmer.shutdownNow(); server.stop(0) }
  def boundPort: Int = server.getAddress.getPort

  def currentInodes: DataFrame = inodes

  // ---------------------------------------------------------------- routing

  private def handle(ex: HttpExchange): Unit =
    try {
      val endpoint = ex.getRequestURI.getPath.stripPrefix("/").takeWhile(_ != '/')
      requestCount.incrementAndGet()
      log(s"${ex.getRequestMethod} ${ex.getRequestURI}")
      if (!Security.AllEndpoints.contains(endpoint)) {
        respond(ex, 404, "text/plain", s"Unknown endpoint: /$endpoint\n")
      } else {
        val params = parseParams(ex)
        // authentication (SecurityContext.handleAuthentication): unsecured
        // endpoints pass; everything else needs a valid token when enabled
        val user: Option[String] =
          if (!sec.enabled) Some("default")
          else cookieToken(ex).flatMap(sec.validate)
            .orElse(negotiateUser(ex)) match {
            case some @ Some(_) => some
            case None if Security.UnsecuredEndpoints(endpoint) => Some("anonymous")
            case None => None
          }
        user match {
          case None =>
            // RFC 4559: the 401 carries the Negotiate challenge so
            // Kerberos-capable clients retry with a token
            spnego.foreach(s => ex.getResponseHeaders
              .add("WWW-Authenticate", s.challengeHeader))
            respond(ex, 401, "text/plain", "Authentication required\n")
          case Some(u) if !sec.authorize(endpoint, u) =>
            respond(ex, 403, "text/plain",
              s"User: $u, is not authorized for URI: /$endpoint\n")
          case Some(u) =>
            if (!Security.UnsecuredEndpoints(endpoint))
              UsageMetrics.userMadeQuery(u, remoteIp(ex))
            // refresh the token on every authenticated call
            // (SecurityContext.java:368-369)
            if (sec.enabled && !Security.UnsecuredEndpoints(endpoint))
              setCookie(ex, sec.issueToken(u))
            dispatch(ex, endpoint, params, u)
        }
      }
    } catch {
      case e: IllegalArgumentException => // malformed query → 400 (SURVEY §3.1)
        respond(ex, 400, "text/plain", s"Bad request: ${e.getMessage}\n")
      case e: Exception =>
        respond(ex, 500, "text/plain", s"${e.getClass.getSimpleName}: ${e.getMessage}\n")
    } finally ex.close()

  private def dispatch(ex: HttpExchange, endpoint: String,
                       p: Map[String, String], user: String): Unit = endpoint match {
    // ---- static dashboard (the reference's webapps/nna analog —
    // ORIGINAL page, no vendored libs; charts are inline SVG consuming
    // the same Chart.js JSON /histogram serves)
    case "" | "ui" =>
      val in = getClass.getResourceAsStream("/graft/webui/index.html")
      if (in == null) respond(ex, 404, "text/plain", "UI not bundled\n")
      else {
        val html = new String(in.readAllBytes(), UTF_8)
        in.close()
        respond(ex, 200, "text/html; charset=utf-8", html)
      }

    // ---- auth
    case "login" =>
      val (u, pw) = (p.getOrElse("username", ""), p.getOrElse("password", ""))
      sec.login(u, pw) match {
        case Some(token) =>
          setCookie(ex, token)
          UsageMetrics.userLoggedIn(u, remoteIp(ex))
          respond(ex, 200, "text/plain", "Logged in.\n")
        case None if !sec.enabled => respond(ex, 200, "text/plain", "Auth disabled.\n")
        case None => respond(ex, 401, "text/plain", "Bad credentials\n")
      }
    case "logout" =>
      ex.getResponseHeaders.add("Set-Cookie",
        s"${Security.CookieName}=; Max-Age=0; Path=/")
      UsageMetrics.userLoggedOut(user, remoteIp(ex))
      respond(ex, 200, "text/plain", "Logged out.\n")
    case "credentials" =>
      respond(ex, 200, "application/json",
        s"""{"user": ${q(user)}, "tiers": ${jsonArr(sec.tiersOf(user).map(_.name).toSeq.sorted)}}""")

    // ---- introspection enums (Constants.java via QueryChecker's matrices)
    case "endpoints" => respond(ex, 200, "application/json",
      // the "" root route is an alias of /ui, not a listable endpoint
      jsonArr(Security.AllEndpoints.filter(_.nonEmpty)))
    case "sets" => respond(ex, 200, "application/json", jsonArr(Seq("files", "dirs", "all")))
    case "filters" => respond(ex, 200, "application/json",
      jsonArr(QueryChecker.filterSet("files").union(QueryChecker.filterSet("dirs")).toSeq.sorted))
    case "filterOps" => respond(ex, 200, "application/json", jsonArr(WebServer.FilterOps))
    case "histograms" => respond(ex, 200, "application/json",
      jsonArr(QueryChecker.typeSet("files").union(QueryChecker.typeSet("dirs")).toSeq.sorted))
    case "sums" => respond(ex, 200, "application/json",
      jsonArr(QueryChecker.sumSet("files").union(QueryChecker.sumSet("dirs")).toSeq.sorted))
    case "finds" => respond(ex, 200, "application/json",
      jsonArr(QueryChecker.findSet("files").union(QueryChecker.findSet("dirs")).toSeq.sorted))
    case "transforms" => respond(ex, 200, "application/json", jsonArr(Seq("fileReplica")))
    case "operations" => respond(ex, 200, "application/json",
      jsonArr(Seq("delete", "setReplication", "setStoragePolicy")))
    case "histogramOutputs" => respond(ex, 200, "application/json",
      jsonArr(Seq("chart", "csv", "json")))

    // ---- queries
    case "query" =>
      // beyond-reference: run ANY registry operator (events / pipeline /
      // ingest / nna) as header+CSV — the HTTP twin of `Cli query`
      val name = p.getOrElse("name",
        throw new IllegalArgumentException("query requires &name="))
      val fn = graft.SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(
          s"unknown query '$name' (GET /queries for names)"))
      // &explain=formatted|extended|simple returns the PLAN instead of
      // rows — the ops tool for checking pushdown/broadcast/shuffle
      // shape over HTTP without paying for the execution
      p.get("explain") match {
        case Some(mode) =>
          respond(ex, 200, "text/plain", fn(spark, dataDir).queryExecution
            .explainString(Renderers.explainMode(mode)))
        case None =>
          // STREAMED, like the CLI twin and the dump endpoint — registry
          // operators can be row-heavy (per-event as-of outputs) and a
          // collected toCsv would materialize them all on the driver
          respondCsvStream(ex, fn(spark, dataDir))
      }
    case "queries" => respond(ex, 200, "application/json",
      jsonArr(graft.SparkEntry.queries.keys.toSeq.sorted))
    case "filter" => filterEndpoint(ex, p)
    case "histogram" => histogramEndpoint(ex, p)
    case "histogram2" => histogram2Endpoint(ex, p)
    case "histogram3" => histogram3Endpoint(ex, p)
    case "divide" =>
      val q1 = NNAQuery(set = p.getOrElse("set1", "files"),
        filters = p.getOrElse("filters1", ""), sum = Seq(p.getOrElse("sum1", "count")))
      val q2 = NNAQuery(set = p.getOrElse("set2", "files"),
        filters = p.getOrElse("filters2", ""), sum = Seq(p.getOrElse("sum2", "count")))
      val r = NNAQuery.divide(q1, q2, inodes).collect()(0).getLong(0)
      respond(ex, 200, "text/plain", r.toString)
    case "contentSummary" =>
      val path = p.getOrElse("path",
        throw new IllegalArgumentException("contentSummary requires &path="))
      respond(ex, 200, "application/json",
        rowJson(graft.engine.Aggregates.contentSummary(inodes, path).collect()(0)))
    case "dump" =>
      val path = p.getOrElse("path",
        throw new IllegalArgumentException("dump requires &path="))
      val limit = p.get("limit").map(_.toInt).getOrElse(Int.MaxValue)
      val df = inodes
        .where(col("path") === path || col("path").startsWith(path + "/"))
        .select(col("path")).orderBy(col("path")).limit(limit)
      respondPathStream(ex, df)
    case "sql" =>
      val stmt = p.getOrElse("sqlStatement",
        throw new IllegalArgumentException("sql requires sqlStatement"))
      SqlShim.execute(spark, dataDir, stmt) match {
        case Right(df) => respond(ex, 200, "text/plain", Renderers.toCsv(df))
        case Left(_) => respond(ex, 200, "text/plain", "OK\n") // SET statements
      }

    // ---- suggestions readers (§2.10) — all served from the cache
    case "suggestions" => p.get("username") match {
      case Some(u) =>
        respond(ex, 200, "application/json",
          suggestionCache.userMaps.find(_.getString(0) == u)
            .map(rowJson).getOrElse("{}"))
      case None =>
        respond(ex, 200, "application/json", rowJson(suggestionCache.values))
    }
    case "users" => p.get("suggestion") match {
      case Some(metric) =>
        val rows = suggestionCache.userMaps
        val idx = rows.headOption.map(_.fieldIndex(metric)).getOrElse(
          throw new IllegalArgumentException(s"unknown suggestion metric: $metric"))
        respond(ex, 200, "application/json",
          rows.map(r => s"${q(r.getString(0))}: ${jsonVal(r.get(idx))}")
            .mkString("{", ", ", "}"))
      case None =>
        respond(ex, 200, "application/json",
          jsonArr(suggestionCache.userMaps.map(_.getString(0)).toSeq))
    }
    case "top" | "bottom" =>
      val limit = p.get("limit").map(_.toInt).getOrElse(10)
      respond(ex, 200, "application/json", issuesJson(limit, endpoint == "bottom"))
    case "directories" =>
      val depth = p.get("depth").map(_.toInt).getOrElse(3)
      val limit = p.get("limit").map(_.toInt).getOrElse(1000)
      val tops = Suggestions.topDirectories(inodes, depth, limit).collect()
      respond(ex, 200, "application/json",
        "[" + tops.map(rowJson).mkString(", ") + "]")
    case "addDirectory" =>
      watchedDirs.add(p.getOrElse("dir",
        throw new IllegalArgumentException("addDirectory requires &dir=")))
      respond(ex, 200, "text/plain", "Added.\n")
    case "removeDirectory" =>
      watchedDirs.remove(p.getOrElse("dir",
        throw new IllegalArgumentException("removeDirectory requires &dir=")))
      respond(ex, 200, "text/plain", "Removed.\n")
    case "quotas" =>
      val rows = p.get("user")
        .map(u => suggestionCache.userQuotas.filter(_.getString(0) == u))
        .getOrElse(suggestionCache.userQuotas)
      respond(ex, 200, "application/json",
        "[" + rows.map(rowJson).mkString(", ") + "]")
    case "fileAge" =>
      respond(ex, 200, "application/json", kvJson(suggestionCache.ages))
    case "fileTypes" =>
      respond(ex, 200, "application/json",
        twoLevelRowsJson(suggestionCache.fileTypes))
    case "token" => tokens match {
      case Some(t) => respond(ex, 200, "application/json",
        kvJson(TokenAnalysis.lastLogins(t).collect()))
      case None => respond(ex, 200, "application/json", "{}")
    }
    case "cachedMaps" => respond(ex, 200, "application/json",
      jsonArr(Seq("cachedUserMaps", "cachedUserQuotas", "cachedValues") ++
        CachedQueries.list.map("cachedQuery:" + _)))
    case "history" =>
      val cycles = suggestionsService.map(_.history).getOrElse(Nil)
      respond(ex, 200, "application/json",
        "[" + cycles.map(c =>
          s"""{"ts": ${c.ts}, "users": ${c.users}, "failedQueries": ${c.cachedFailures.size}}""")
          .mkString(", ") + "]")
    case "sketchHistory" =>
      // window distincts + moving percentiles from the per-cycle sketch
      // rows — answers that outlive the namespaces they were built from
      // (additive history rows cannot fold distincts or percentiles).
      // ?from=&to= bound the window in cycle_ts millis (default: all).
      historyPath match {
        case None => respond(ex, 200, "application/json", "{}")
        case Some(hp) =>
          val from = p.get("from").map(_.toLong).getOrElse(Long.MinValue)
          val to = p.get("to").map(_.toLong).getOrElse(Long.MaxValue)
          val body = scala.util.Try {
            val hist = SketchHistory.read(spark, hp + "_sketch")
              .where(col("cycle_ts").between(from, to))
            val nUsers = SketchHistory.distinctUsersOver(hist, from, to)
              .collect().head.getLong(0)
            val rows = SketchHistory
              .sizePercentiles(hist, Seq(0.5, 0.95, 0.99))
              .collect().map { r =>
                s"""{"ts": ${r.getLong(0)}, "n_files": ${r.getLong(1)}, """ +
                s""""p50": ${r.getDouble(2)}, "p95": ${r.getDouble(3)}, """ +
                s""""p99": ${r.getDouble(4)}}"""
              }
            s"""{"n_users": $nUsers, "cycles": [${rows.mkString(", ")}]}"""
          }.getOrElse("{}") // no sketch rows yet → empty, not a 500
          respond(ex, 200, "application/json", body)
      }

    // ---- cached queries (§2.10 user-registered)
    case "setCachedQuery" =>
      val name = p.getOrElse("name",
        throw new IllegalArgumentException("setCachedQuery requires &name="))
      CachedQueries.register(name, queryFromParams(p))
      respond(ex, 200, "text/plain", "Registered.\n")
    case "getCachedQuery" =>
      val name = p.getOrElse("name",
        throw new IllegalArgumentException("getCachedQuery requires &name="))
      CachedQueries.latest(name) match {
        case Some((_, rows, cols)) =>
          val body = (cols.mkString(",") +: rows.map(_.toSeq.map(cell).mkString(",")))
            .mkString("\n")
          respond(ex, 200, "text/plain", body + "\n")
        case None => respond(ex, 404, "text/plain", s"No cached result for $name\n")
      }
    case "removeCachedQuery" =>
      CachedQueries.remove(p.getOrElse("name",
        throw new IllegalArgumentException("removeCachedQuery requires &name=")))
      respond(ex, 200, "text/plain", "Removed.\n")

    // ---- operations (§2.9)
    case "submitOperation" =>
      val kind = p.getOrElse("operation",
        throw new IllegalArgumentException("submitOperation requires &operation=")) match {
        case "delete" => Operations.Delete
        case s if s.startsWith("setReplication:") =>
          Operations.SetReplication(s.stripPrefix("setReplication:").toShort)
        case s if s.startsWith("setStoragePolicy:") =>
          Operations.SetStoragePolicy(s.stripPrefix("setStoragePolicy:"))
        case other => throw new IllegalArgumentException(s"unknown operation $other")
      }
      val nq = queryFromParams(p)
      val filtered = NNAQuery.execute(nq.copy(sum = Nil, find = None,
        histType = None, limit = p.get("limit").map(_.toInt)), inodes)
      // synchronous with no inter-path sleep: the mutation is the stub
      // (reference-TODO parity, Operations.scala) so fixture-scale path
      // sets complete immediately; a real applyFn would wrap this in the
      // reference's async submit + 5 s throttle
      val op = Operations.run(filtered, kind,
        query = p.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("&"),
        sleepMs = p.get("sleep").map(_.toLong).getOrElse(0L))
      respond(ex, 200, "text/plain", op.id + "\n")
    case "listOperations" =>
      respond(ex, 200, "application/json",
        "[" + Operations.listOperations.map { case (id, opName, done, total) =>
          s"""{"id": ${q(id)}, "operation": ${q(opName)}, "performed": $done, "total": $total}"""
        }.mkString(", ") + "]")
    case "abortOperation" =>
      val id = p.getOrElse("id",
        throw new IllegalArgumentException("abortOperation requires &id="))
      if (Operations.abortOperation(id)) respond(ex, 200, "text/plain", "Aborted.\n")
      else respond(ex, 404, "text/plain", s"No such operation: $id\n")

    // ---- admin
    case "saveNamespace" =>
      val target = p.getOrElse("dir", s"${System.getProperty("java.io.tmpdir")}/graft-namespace")
      Namespace.save(inodes, target, p.getOrElse("format", "parquet"))
      respond(ex, 200, "text/plain", s"Saved namespace to $target\n")
    case "fetchNamespace" =>
      val src = p.getOrElse("dir", s"${System.getProperty("java.io.tmpdir")}/graft-namespace")
      inodes = Namespace.load(spark, src, p.getOrElse("format", "parquet"))
      invalidateCaches()
      respond(ex, 200, "text/plain", s"Fetched namespace from $src\n")
    case "reloadNamespace" =>
      loaded = false
      inodes = InodeView.inodes(spark, dataDir)
      loaded = true
      invalidateCaches()
      respond(ex, 200, "text/plain", "Reloaded namespace.\n")
    case "refresh" =>
      // re-run the suggestions DAG now (reference /refresh re-analyzes) —
      // on the warmer/service thread, never this request thread; readers
      // serve the previous cycle until the fresh cache swaps in
      suggestionsService.foreach(_.runNow())
      invalidateCaches()
      respond(ex, 200, "text/plain", "Refreshed.\n")
    case "queryGuard" => p.get("cancel") match {
      case Some(id) =>
        QueryGuard.cancel(spark, id)
        respond(ex, 200, "text/plain", s"Cancelled $id\n")
      case None => respond(ex, 200, "application/json",
        "[" + QueryGuard.list().map { case (id, tag) =>
          s"""{"id": ${q(id)}, "tag": ${q(tag)}}""" }.mkString(", ") + "]")
    }
    case "metrics" => respond(ex, 200, "application/json", UsageMetrics.userMetricsJson)
    case "drop" =>
      historyPath.foreach { hp =>
        val fsPath = new org.apache.hadoop.fs.Path(hp)
        fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(fsPath, true)
      }
      respond(ex, 200, "text/plain", "Dropped history.\n")
    case "truncate" =>
      // keep the most recent `limit` cycles of the history table
      val keep = p.get("limit").map(_.toInt).getOrElse(0)
      historyPath.foreach { hp =>
        val h = Sinks.readHistory(spark, hp)
        val cutoffs = h.select(col("cycle_ts")).distinct()
          .orderBy(col("cycle_ts").desc).limit(keep).collect().map(_.getLong(0))
        val kept = h.where(col("cycle_ts").isInCollection(cutoffs.toSeq)).cache()
        kept.count() // materialize before overwrite
        kept.write.mode("overwrite").parquet(hp + ".tmp")
        val conf = spark.sparkContext.hadoopConfiguration
        val fs = new org.apache.hadoop.fs.Path(hp).getFileSystem(conf)
        fs.delete(new org.apache.hadoop.fs.Path(hp), true)
        fs.rename(new org.apache.hadoop.fs.Path(hp + ".tmp"),
          new org.apache.hadoop.fs.Path(hp))
        kept.unpersist()
      }
      respond(ex, 200, "text/plain", "Truncated.\n")
    case "info" =>
      respond(ex, 200, "application/json",
        s"""{"app": "graft", "sparkVersion": ${q(spark.version)}, """ +
          s""""dataDir": ${q(dataDir)}, "uptimeMs": ${System.currentTimeMillis() - startedAtMs}, """ +
          s""""requests": ${requestCount.get()}}""")
    case "config" =>
      val entries = spark.conf.getAll.filter(_._1.startsWith("spark.sql."))
        .toSeq.sortBy(_._1)
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }
      respond(ex, 200, "application/json", entries.mkString("{", ", ", "}"))
    case "system" =>
      val rt = Runtime.getRuntime
      val mem = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      respond(ex, 200, "application/json",
        s"""{"processors": ${rt.availableProcessors}, "heapUsed": ${mem.getUsed}, """ +
          s""""heapMax": ${mem.getMax}, "defaultParallelism": ${spark.sparkContext.defaultParallelism}}""")
    case "threads" =>
      val threads = Thread.getAllStackTraces.keySet()
      val it = threads.iterator()
      val names = scala.collection.mutable.ArrayBuffer[String]()
      while (it.hasNext) names += it.next().getName
      respond(ex, 200, "application/json",
        s"""{"count": ${names.size}, "names": ${jsonArr(names.toSeq.sorted)}}""")
    case "loadingStatus" =>
      respond(ex, 200, "application/json", s"""{"loaded": $loaded}""")
    case "log" =>
      val it = logLines.iterator()
      val sb = new StringBuilder
      while (it.hasNext) { sb.append(it.next()).append('\n') }
      respond(ex, 200, "text/plain", sb.toString)

    case other => respond(ex, 404, "text/plain", s"Unknown endpoint: /$other\n")
  }

  // ------------------------------------------------------- query endpoints

  /** `/filter` (`NamenodeAnalyticsMethods.java:1402-1504`): `sum` → bare
    * number (multi-sum → one per line); `find` → "path,value" line of the
    * arg-min/max inode; neither → path dump bounded by `limit`. */
  private def filterEndpoint(ex: HttpExchange, p: Map[String, String]): Unit = {
    val nq = queryFromParams(p)
    if (nq.sum.nonEmpty) {
      val row = NNAQuery.execute(nq, inodes).collect()(0)
      // email sink (`NamenodeAnalyticsMethods.java:1460-1478`): fires only
      // when all of emailTo/emailHost/emailFrom are set AND the
      // emailConditions AND-chain holds on the result
      maybeEmail(p, subject = s"${nq.sum.mkString(",")} | ${nq.set} | " +
        s"Filters: ${nq.filters}", row = row,
        body = row.toSeq.map(cell).mkString("\n"))
      respond(ex, 200, "text/plain",
        row.toSeq.map(cell).mkString("\n") + "\n")
    } else if (nq.find.isDefined) {
      val rows = NNAQuery.execute(nq, inodes).collect()
      respond(ex, 200, "text/plain",
        rows.map(r => s"${r.getString(0)},${r.get(1)}").mkString("", "\n", "\n"))
    } else {
      respondPathStream(ex, NNAQuery.execute(nq, inodes))
    }
  }

  /** Email gate + deliver (`MailOutput.check/write`): fires only when
    * emailTo+emailHost+emailFrom are all present and the emailConditions
    * AND-chain holds on `row` (skipped when `preChecked`). Send failures
    * are logged, never surfaced to the HTTP caller — reference parity
    * (`NamenodeAnalyticsMethods.java:1475-1477`). */
  private def maybeEmail(p: Map[String, String], subject: String, row: Row,
                         body: String, preChecked: Boolean = false): Unit =
    for {
      to <- p.get("emailTo"); _ <- p.get("emailHost"); _ <- p.get("emailFrom")
    } {
      try {
        val conditionsOk = preChecked ||
          Sinks.emailConditionsMet(p.getOrElse("emailConditions", ""), row)
        if (conditionsOk)
          // reference subject: `authority | sum | set | Filters: …`
          emailTransport(to.split(',').toSeq, s"graft | $subject", body)
      } catch {
        case e: Exception => log(s"email send failed: ${e.getMessage}")
      }
    }

  /** Stream an arbitrary result as chunked header+CSV via
    * `toLocalIterator` (one partition on the driver at a time) — the
    * `/query` endpoint's renderer; row-heavy registry operators must
    * never collect whole on the driver. */
  private def respondCsvStream(ex: HttpExchange, df: DataFrame): Unit = {
    // force analysis/planning and build the iterator BEFORE the 200 is
    // committed: an invalid query must surface as the handler's normal
    // 400/500, not a truncated chunked 200 (and handle()'s catch would
    // then throw again trying to re-send headers)
    val it = df.toLocalIterator()
    ex.getResponseHeaders.set("Content-Type", "text/plain")
    ex.sendResponseHeaders(200, 0) // length 0 → chunked transfer
    val os = ex.getResponseBody
    try {
      os.write((df.columns.mkString(",") + "\n").getBytes(UTF_8))
      while (it.hasNext) {
        os.write(Renderers.csvRow(it.next()).getBytes(UTF_8))
        os.write('\n')
      }
    } catch {
      // headers are gone — a mid-stream executor/client failure can only
      // be logged; re-throwing would make the error handler itself throw
      case e: Exception => log(s"csv stream aborted: ${e.getMessage}")
    } finally os.close()
  }

  /** Stream a one-string-column result as chunked plain text — the
    * reference's `dumpINodePaths` writes to the response writer row by row
    * for the same reason: a namespace-sized dump must never materialize on
    * the driver. `toLocalIterator` pulls one partition at a time. */
  private def respondPathStream(ex: HttpExchange, df: DataFrame): Unit = {
    // same header-commit discipline as respondCsvStream
    val it = df.toLocalIterator()
    ex.getResponseHeaders.set("Content-Type", "text/plain")
    ex.sendResponseHeaders(200, 0) // length 0 → chunked transfer
    val os = ex.getResponseBody
    try {
      while (it.hasNext) {
        os.write(it.next().getString(0).getBytes(UTF_8))
        os.write('\n')
      }
    } catch {
      case e: Exception => log(s"path stream aborted: ${e.getMessage}")
    } finally os.close()
  }

  /** `/histogram` (`:1514-1712`): Chart.js JSON by default;
    * `histogramOutput=json|csv` switch; find-over-time CSV renders dates
    * unless `rawTimestamps=true` (reference `Histograms.java:101-128`). */
  private def histogramEndpoint(ex: HttpExchange, p: Map[String, String]): Unit = {
    val nq = queryFromParams(p).copy(histType = Some(p.getOrElse("type",
      throw new IllegalArgumentException("histogram requires &type="))))
    val df = NNAQuery.execute(nq, inodes)
    // email sink for histograms (`:1643-1667`): conditions evaluate against
    // the value column of each row — any row matching fires the send
    if (p.contains("emailTo")) {
      val rows = df.collect()
      val conds = p.getOrElse("emailConditions", "")
      val fire = conds.isEmpty ||
        rows.exists(r => Sinks.emailConditionsMet(conds,
          Row(r.get(r.size - 1))))
      if (fire) maybeEmail(p,
        subject = s"X: ${nq.histType.get} | Y: ${nq.sum.headOption.getOrElse("count")} | ${nq.set} | Filters: ${nq.filters}",
        row = null, body = Renderers.toCsv(df), preChecked = true)
    }
    p.getOrElse("histogramOutput", "chart") match {
      case "chart" =>
        val sumName = nq.find.map(f => s"${f._1}:${f._2}")
          .getOrElse(nq.sum.headOption.getOrElse("count"))
        respond(ex, 200, "application/json", Renderers.toChartJsJson(df,
          title = s"${nq.histType.get} | $sumName | ${nq.set}", yAxisLabel = sumName))
      case "json" => respond(ex, 200, "application/json", Renderers.toJson(df))
      case "csv" =>
        val dateCols: Set[String] =
          if (nq.find.exists(f => f._2 == "accessTime" || f._2 == "modTime"))
            Set("value") else Set.empty
        respond(ex, 200, "text/plain", Renderers.toCsv(df, dateCols,
          rawTimestamps = p.get("rawTimestamps").exists(_.toBoolean)))
      case other => throw new IllegalArgumentException(
        s"Could not determine output type: $other. See /histogramOutputs.")
    }
  }

  /** `/histogram2` (`:1720-1824`): two-level grouping, nested-map JSON. */
  private def histogram2Endpoint(ex: HttpExchange, p: Map[String, String]): Unit = {
    val nq = queryFromParams(p).copy(
      histType = Some(p.getOrElse("type",
        throw new IllegalArgumentException("histogram2 requires &type="))),
      histType2 = Some(p.getOrElse("type2",
        throw new IllegalArgumentException("histogram2 requires &type2="))))
    val df = NNAQuery.execute(nq, inodes)
    p.getOrElse("histogramOutput", "json") match {
      case "json" => respond(ex, 200, "application/json", Renderers.twoLevelToJson(df))
      case "csv" => respond(ex, 200, "text/plain", Renderers.toCsv(df))
      case other => throw new IllegalArgumentException(
        s"Could not determine output type: $other. See /histogramOutputs.")
    }
  }

  /** `/histogram3` (`:1832-2003`): multi-sum in ONE pass (the reference
    * re-scans per sum); CSV default, `json` → array of row objects. */
  private def histogram3Endpoint(ex: HttpExchange, p: Map[String, String]): Unit = {
    val nq = queryFromParams(p).copy(histType = Some(p.getOrElse("type",
      throw new IllegalArgumentException("histogram3 requires &type="))))
    require(nq.sum.length > 1, "histogram3 requires multiple &sum= fields")
    val df = NNAQuery.execute(nq, inodes)
    p.getOrElse("histogramOutput", "csv") match {
      case "csv" => respond(ex, 200, "text/plain", Renderers.toCsv(df))
      case "json" => respond(ex, 200, "application/json",
        "[" + df.collect().map(rowJson).mkString(", ") + "]")
      case other => throw new IllegalArgumentException(
        s"Could not determine output type: $other. See /histogramOutputs.")
    }
  }

  private def queryFromParams(p: Map[String, String]): NNAQuery =
    NNAQuery.fromParams(p)

  /** `/top` & `/bottom` (`SuggestionsEngine.getIssuesAsJson`): per issue
    * metric, the `limit` heaviest (or lightest) users. One pass over the
    * cached per-user map, sliced driver-side — user-count-sized data. */
  private def issuesJson(limit: Int, bottom: Boolean): String = {
    val rows = suggestionCache.userMaps
    val metrics = rows.headOption
      .map(_.schema.fieldNames.filterNot(_ == "user")).getOrElse(Array.empty[String])
    metrics.map { m =>
      val idx = rows.headOption.map(_.fieldIndex(m)).getOrElse(0)
      val sorted = rows.sortBy(r => r.getLong(idx))
      val sliced = (if (bottom) sorted else sorted.reverse).take(limit)
      val inner = sliced.map(r => s"${q(r.getString(0))}: ${r.getLong(idx)}")
        .mkString("{", ", ", "}")
      s"${q(m)}: $inner"
    }.mkString("{", ", ", "}")
  }

  // ------------------------------------------------------------- plumbing

  private def parseParams(ex: HttpExchange): Map[String, String] = {
    val fromQuery = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    // POST form bodies (the reference's /sql uses one) merge with the query
    val fromBody =
      if (ex.getRequestMethod == "POST" &&
        Option(ex.getRequestHeaders.getFirst("Content-Type"))
          .exists(_.startsWith("application/x-www-form-urlencoded")))
        new String(ex.getRequestBody.readAllBytes(), UTF_8)
      else ""
    (fromQuery + "&" + fromBody).split('&').filter(_.contains("="))
      .map { kv =>
        val i = kv.indexOf('=')
        URLDecoder.decode(kv.take(i), UTF_8) -> URLDecoder.decode(kv.drop(i + 1), UTF_8)
      }.toMap
  }

  /** SPNEGO leg: an `Authorization: Negotiate <token>` request
    * authenticates through the GSS acceptor; success emits the
    * mutual-auth token back (`WWW-Authenticate: Negotiate <b64>`, RFC
    * 4559 §4.2) and then rides the normal session-cookie issue — the
    * Kerberos round-trip happens once per session, not per request
    * (Hadoop's AuthenticationFilter does the same signed-cookie
    * handoff). Rejected tokens fall through to the 401+challenge. */
  private def negotiateUser(ex: HttpExchange): Option[String] =
    spnego.flatMap { s =>
      s.authenticate(
          Option(ex.getRequestHeaders.getFirst("Authorization"))) match {
        case SpnegoAuth.Authenticated(user, mutual) =>
          mutual.foreach(m => ex.getResponseHeaders
            .add("WWW-Authenticate", s"${s.challengeHeader} $m"))
          UsageMetrics.userLoggedIn(user, remoteIp(ex))
          Some(user)
        case SpnegoAuth.Rejected(reason) =>
          log(s"SPNEGO rejected: $reason"); None
        case SpnegoAuth.NoAttempt => None
      }
    }

  private def cookieToken(ex: HttpExchange): Option[String] = {
    val headers = ex.getRequestHeaders
    val fromCookie = Option(headers.getFirst("Cookie")).flatMap(
      _.split(';').map(_.trim).collectFirst {
        case c if c.startsWith(Security.CookieName + "=") =>
          c.stripPrefix(Security.CookieName + "=")
      })
    fromCookie.orElse(Option(headers.getFirst("Authorization"))
      .filter(_.startsWith("Bearer ")).map(_.stripPrefix("Bearer ")))
  }

  /** HttpOnly (scripts never need the token — fetches send it
    * automatically) + SameSite=Strict: the admin surface mirrors the
    * reference's GET endpoints (/drop, /truncate, /reloadNamespace), so
    * without SameSite any third-party page could fire authenticated
    * state-changing GETs with the operator's cookie (CSRF). */
  private def setCookie(ex: HttpExchange, token: String): Unit =
    ex.getResponseHeaders.set("Set-Cookie",
      s"${Security.CookieName}=$token; Path=/; HttpOnly; SameSite=Strict")

  private def respond(ex: HttpExchange, status: Int, contentType: String,
                      body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(status, bytes.length)
    val os: OutputStream = ex.getResponseBody
    os.write(bytes)
    os.close()
  }

  private def remoteIp(ex: HttpExchange): String =
    ex.getRemoteAddress.getAddress.getHostAddress

  private def log(line: String): Unit = {
    logLines.addLast(s"${System.currentTimeMillis()} $line")
    while (logLines.size > MaxLogLines) logLines.pollFirst()
  }

  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  private def jsonArr(xs: Seq[String]): String = xs.map(q).mkString("[", ", ", "]")

  private def cell(v: Any): String = v match {
    case null => ""; case s: String => s; case other => other.toString
  }

  private def jsonVal(v: Any): String = v match {
    case null => "null"
    case s: String => q(s)
    case b: Boolean => b.toString
    case n => n.toString
  }

  private def rowJson(r: Row): String =
    r.schema.fieldNames.zipWithIndex
      .map { case (f, i) => s"${q(f)}: ${jsonVal(r.get(i))}" }
      .mkString("{", ", ", "}")

  /** (key, value) rows → one flat JSON object. */
  private def kvJson(rows: Array[Row]): String =
    rows.sortBy(r => cell(r.get(0)))
      .map(r => s"${q(cell(r.get(0)))}: ${jsonVal(r.get(1))}")
      .mkString("{", ", ", "}")

  /** (key1, key2, value) rows → nested JSON map (collected-cache twin of
    * [[Renderers.twoLevelToJson]]). */
  private def twoLevelRowsJson(rows: Array[Row]): String =
    rows.groupBy(r => cell(r.get(0))).toSeq.sortBy(_._1).map { case (k1, rs) =>
      val inner = rs.sortBy(r => cell(r.get(1)))
        .map(r => s"${q(cell(r.get(1)))}: ${jsonVal(r.get(2))}")
        .mkString("{", ", ", "}")
      s"${q(k1)}: $inner"
    }.mkString("{", ", ", "}")
}

object WebServer {
  /** FilterOp enum surface (`Constants.java:130-160`) — the ops the
    * predicate compiler accepts (`engine/Filters.scala`). */
  val FilterOps: Seq[String] = Seq(
    "eq", "notEq", "lt", "lte", "gt", "gte",
    "minutesAgo", "hoursAgo", "daysAgo", "monthsAgo", "yearsAgo",
    "olderThanMinutes", "olderThanHours", "olderThanDays",
    "olderThanMonths", "olderThanYears",
    "dateEq", "dateNotEq", "dateLt", "dateLte", "dateStart",
    "dateGt", "dateGte", "dateEnd",
    "startsWith", "notStartsWith", "endsWith", "notEndsWith",
    "contains", "notContains")
}
