package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.api._
import graft.inodes.InodeView

/** The thin CLI — SURVEY §2.11's v1 entry points: the Scala API, this CLI,
  * and the HTTP front door ([[graft.api.WebServer]]). One-shot commands
  * print to stdout; `serve` starts the HTTP server and blocks.
  *
  * {{{
  * graft.Cli filter     <dataDir> "set=files&filters=user:eq:u1&sum=count"
  * graft.Cli histogram  <dataDir> "set=files&type=user&histogramOutput=json"
  * graft.Cli histogram2 <dataDir> "set=files&type=user&type2=fileType"
  * graft.Cli dump       <dataDir> "path=/a/b&limit=100"
  * graft.Cli sql        <dataDir> "SELECT count(*) AS n FROM files"
  * graft.Cli suggestions <dataDir>
  * graft.Cli serve      <dataDir> [port] [user:password:TIER+TIER,…]
  * graft.Cli profile    <sfDir> <query…>
  * graft.Cli explain    <sfDir> [query…] [explain=formatted|extended|simple]
  * }}}
  *
  * `dataDir` takes the same forms as [[InodeView.inodes]]: a fixture dir,
  * `oiv:`/`oivxml:`/`oivbin:` ingest doors, or `inodes:` for a saved
  * namespace. Query strings are the reference's endpoint parameters
  * verbatim — the same string works against `/filter` over HTTP.
  *
  * Two dev commands run over the registry's parquet table dir:
  *  - `profile` runs each named query once cold and once warm, both timed
  *    with `count()`, and prints one line per query: cold and warm
  *    seconds, then the warm run's [[SparkActivity]] actions, jobs, stages
  *    and tasks, with the counted actions' call sites indented under it.
  *  - `explain` prints each query's plan (`formatted` unless an
  *    `explain=` argument names another mode, the same modes as
  *    `/query?explain=`) under a `========== name ==========` header,
  *    which `tools/split_plans.py` splits into one file per query. With
  *    no query names it audits [[explainTargets]].
  *
  * The session is [[Sessions.local]].
  */
object Cli {

  def main(args: Array[String]): Unit = {
    if (args.length < 2) { System.err.println(usage); sys.exit(2) }
    val cmd = args(0)
    val dataDir = args(1)
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, cmd, dataDir, args.drop(2))
    catch {
      case e: IllegalArgumentException =>
        System.err.println(s"error: ${e.getMessage}"); sys.exit(1)
    }
  }

  private[graft] def run(spark: SparkSession, cmd: String, dataDir: String,
                         rest: Array[String]): Unit = {
    def inodes = InodeView.snapshot(spark, dataDir)
    def params = parseQuery(rest.headOption.getOrElse(""))
    cmd match {
      case "filter" =>
        val nq = NNAQuery.fromParams(params)
        val df = NNAQuery.execute(nq, inodes)
        if (nq.sum.nonEmpty)
          println(df.collect()(0).toSeq.map(String.valueOf).mkString("\n"))
        else {
          val it = df.toLocalIterator()
          while (it.hasNext) println(it.next().mkString(","))
        }
      case "histogram" | "histogram2" | "histogram3" =>
        val nq = NNAQuery.fromParams(params).copy(
          histType = Some(params.getOrElse("type",
            throw new IllegalArgumentException(s"$cmd requires type="))),
          histType2 =
            if (cmd == "histogram2") Some(params.getOrElse("type2",
              throw new IllegalArgumentException("histogram2 requires type2=")))
            else None)
        val df = NNAQuery.execute(nq, inodes)
        params.getOrElse("histogramOutput", "csv") match {
          case "json" if cmd == "histogram2" => println(Renderers.twoLevelToJson(df))
          case "json" => println(Renderers.toJson(df))
          case "csv" => println(Renderers.toCsv(df))
          case other => throw new IllegalArgumentException(
            s"unknown histogramOutput: $other (csv|json)")
        }
      case "dump" =>
        import org.apache.spark.sql.functions.col
        val path = params.getOrElse("path",
          throw new IllegalArgumentException("dump requires path="))
        val limit = params.get("limit").map(_.toInt).getOrElse(Int.MaxValue)
        val it = inodes
          .where(col("path") === path || col("path").startsWith(path + "/"))
          .select(col("path")).orderBy(col("path")).limit(limit)
          .toLocalIterator()
        while (it.hasNext) println(it.next().getString(0))
      case "sql" =>
        val stmt = rest.headOption.getOrElse(
          throw new IllegalArgumentException("sql requires a statement argument"))
        graft.engine.SqlShim.execute(spark, dataDir, stmt) match {
          case Right(df) => println(Renderers.toCsv(df))
          case Left(_) => println("OK")
        }
      case "suggestions" =>
        val row = Suggestions.cachedValues(inodes).collect()(0)
        row.schema.fieldNames.zipWithIndex.foreach { case (f, i) =>
          println(s"$f,${row.get(i)}")
        }
      case "query" =>
        // generic runner over the FULL operator registry (events /
        // pipeline / ingest / nna) — dataDir here is the parquet table
        // dir the registry queries expect
        val df = registry(rest.headOption.getOrElse(
          throw new IllegalArgumentException(
            "query requires an operator name (see the `list` command)")))(
          spark, dataDir)
        println(df.columns.mkString(","))
        val it = df.toLocalIterator()
        // cell-escaped like the HTTP twin — raw mkString corrupts cells
        // containing commas/quotes/newlines (doc text, path columns)
        while (it.hasNext) println(api.Renderers.csvRow(it.next()))
      case "profile" =>
        if (rest.isEmpty)
          throw new IllegalArgumentException("profile requires query names")
        rest.foreach { name =>
          val fn = registry(name)
          val t0 = System.nanoTime()
          fn(spark, dataDir).count()
          val cold = (System.nanoTime() - t0) / 1e9
          val (_, a) = SparkActivity.measure(spark)(fn(spark, dataDir).count())
          println(f"PROFILE $name cold=$cold%.2f warm=${a.seconds}%.2f " +
            s"actions=${a.actions} jobs=${a.jobs} stages=${a.stages} " +
            s"tasks=${a.tasks}")
          a.callSites.foreach(site => println(s"  $site"))
        }
      case "explain" =>
        val (modes, names) = rest.partition(_.startsWith("explain="))
        val mode = Renderers.explainMode(
          modes.lastOption.fold("formatted")(_.stripPrefix("explain=")))
        (if (names.isEmpty) explainTargets else names.toSeq).foreach { name =>
          println(s"\n========== $name ==========")
          println(registry(name)(spark, dataDir).queryExecution
            .explainString(mode))
        }
      case "list" =>
        SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      case "serve" =>
        val port = rest.headOption.map(_.toInt).getOrElse(8080)
        val users = rest.drop(1).headOption.map(parseUsers).getOrElse(Nil)
        val secret = sys.env.getOrElse("GRAFT_HTTP_SECRET",
          java.util.UUID.randomUUID().toString).getBytes("UTF-8")
        // LDAP bind transport (reference ldap.url / ldap.base.dn.N /
        // ldap.*.timeout properties → env here): GRAFT_LDAP_URL +
        // GRAFT_LDAP_BASE_DN (';'-separated %u templates, tried in
        // order) + GRAFT_LDAP_TIERS (user:TIER+TIER,… authorization for
        // directory-authenticated users)
        val ldap = sys.env.get("GRAFT_LDAP_URL").map { url =>
          val dns = sys.env.getOrElse("GRAFT_LDAP_BASE_DN",
            throw new IllegalArgumentException(
              "GRAFT_LDAP_BASE_DN (';'-separated %u templates) is " +
                "required with GRAFT_LDAP_URL"))
            .split(';').toSeq.map(_.trim).filter(_.nonEmpty)
          new api.LdapAuth(url, dns,
            sys.env.getOrElse("GRAFT_LDAP_CONNECT_TIMEOUT_MS", "1000").toInt,
            sys.env.getOrElse("GRAFT_LDAP_RESPONSE_TIMEOUT_MS", "1000").toInt)
        }
        val ldapTiers = sys.env.get("GRAFT_LDAP_TIERS")
          .map(parseTiers).getOrElse(Map.empty[String, Set[Security.Tier]])
        val ctx = new Security.Context(users, secret,
          ldap = ldap, ldapTiers = ldapTiers)
        val server = new WebServer(spark, inodes, dataDir, ctx, port = port)
        server.start()
        println(s"graft HTTP server on port ${server.boundPort} " +
          s"(auth ${if (ctx.enabled) "enabled" else "disabled"}" +
          s"${if (ldap.nonEmpty) ", ldap" else ""})")
        Thread.currentThread().join() // serve until killed
      case other =>
        throw new IllegalArgumentException(s"unknown command: $other\n$usage")
    }
  }

  /** `user:password:TIER+TIER,…` → users (tiers from
    * [[Security.AllTiers]] names, e.g. `admin:pw:ADMIN+READER`). */
  private[graft] def parseUsers(spec: String): Seq[Security.User] =
    spec.split(',').toSeq.map { u =>
      u.split(':') match {
        case Array(name, pw, tiers) =>
          Security.User(name, pw, tiers.split('+').map { t =>
            Security.AllTiers.find(_.name == t).getOrElse(
              throw new IllegalArgumentException(s"unknown tier: $t"))
          }.toSet)
        case _ => throw new IllegalArgumentException(
          s"user spec must be name:password:TIER+TIER, got $u")
      }
    }

  /** `user:TIER+TIER,…` → authorization tiers for LDAP-authenticated
    * users (no password — the directory holds the credential). */
  private[graft] def parseTiers(spec: String): Map[String, Set[Security.Tier]] =
    spec.split(',').toSeq.map { u =>
      u.split(':') match {
        case Array(name, tiers) =>
          name -> tiers.split('+').map { t =>
            Security.AllTiers.find(_.name == t).getOrElse(
              throw new IllegalArgumentException(s"unknown tier: $t"))
          }.toSet
        case _ => throw new IllegalArgumentException(
          s"ldap tier spec must be name:TIER+TIER, got $u")
      }
    }.toMap

  private[graft] def parseQuery(qs: String): Map[String, String] =
    qs.split('&').filter(_.contains("=")).map { kv =>
      val i = kv.indexOf('=')
      kv.take(i) -> kv.drop(i + 1)
    }.toMap

  private def registry(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, throw new IllegalArgumentException(
      s"unknown query '$name' (see the `list` command)"))

  /** `explain`'s default audit list, one plan property each. */
  private val explainTargets = Seq(
    "q1_pricing",            // pushdown: shipdate filter must reach the scan
    "nna_filter_count",      // column pruning through the inode derivation
    "nna_histogram_user",    // partial agg + single shuffle expected
    "q3_top_orders",         // join strategy: broadcast for dims
    "ann_bruteforce_top5",   // broadcast nested loop over corpus scan
    "ann_ivf_top5",          // cell assignment: NO exchange above the scan
    "nna_ingest_oiv",        // OIV ingest: CSV scan + two linear shuffles
    "dedup_minhash_lsh",     // banded join: only (band,hash,id) shuffles
    "nna_under_ns_quota",    // narrow ancestor walk: 16-byte shuffle rows
    "nna_histogram_user_salted") // two-phase salted group-by

  private val usage: String =
    """usage: graft.Cli <command> <dataDir> [args]
      |  filter <dir> "set=…&filters=…&sum=…"     sum → number; else path dump
      |  histogram <dir> "set=…&type=…"           &histogramOutput=csv|json
      |  histogram2 <dir> "set=…&type=…&type2=…"
      |  dump <dir> "path=/a/b&limit=N"
      |  sql <dir> "SELECT …"
      |  suggestions <dir>
      |  query <dir> <operator-name>              any registry operator, csv
      |  list <dir>                               operator names
      |  serve <dir> [port] [user:pw:TIER+TIER,…]  start the HTTP server
      |  profile <dir> <query…>                   cold/warm time, Spark activity
      |  explain <dir> [query…] [explain=MODE]    plans; formatted|extended|simple
      |""".stripMargin
}
