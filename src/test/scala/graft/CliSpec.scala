package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.api.{NNAQuery, Security}
import graft.inodes.InodeView

/** The thin-CLI command surface, driven through [[Cli.run]] with the
  * shared test session (the `main` path differs only in session setup). */
class CliSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"
  lazy val ino = InodeView.snapshot(spark, dir)

  private def capture(cmd: String, args: String*): String = {
    val out = new ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      Cli.run(spark, cmd, dir, args.toArray)
    }
    new String(out.toByteArray, UTF_8)
  }

  test("filter with sum prints the bare value") {
    val direct = NNAQuery.execute(
      NNAQuery(set = "files", filters = "user:eq:u1", sum = Seq("count")), ino)
      .collect()(0).getLong(0)
    assert(capture("filter", "set=files&filters=user:eq:u1&sum=count").trim
      === direct.toString)
  }

  test("filter without sum dumps paths, limit honored") {
    val lines = capture("filter", "set=files&filters=user:eq:u1&limit=4")
      .trim.split('\n')
    assert(lines.length === 4 && lines.sorted.toSeq === lines.toSeq)
  }

  test("histogram csv and json render like the HTTP endpoint") {
    val csv = capture("histogram", "set=files&type=user")
    assert(csv.split('\n')(0) === "key,value")
    val json = capture("histogram", "set=files&type=user&histogramOutput=json")
    assert(json.trim.startsWith("{") && json.contains("\"u1\""))
  }

  test("histogram2 json is the nested map") {
    val json = capture("histogram2", "set=files&type=user&type2=fileType&histogramOutput=json")
    assert(json.contains("\"u1\": {"))
  }

  test("sql executes over the registered views") {
    val out = capture("sql", "SELECT count(*) AS n FROM files")
    assert(out.split('\n')(0) === "n")
  }

  test("suggestions prints the scalar census as csv lines") {
    val out = capture("suggestions")
    assert(out.contains("numFiles,") && out.contains("emptyDirs,"))
  }

  test("query runs any registry operator; list enumerates them") {
    val out = capture("query", "events_hourly")
    val lines = out.trim.split('\n')
    assert(lines.head === "event_type,hour_epoch,n,value_cents")
    assert(lines.length > 1)
    val names = capture("list").trim.split('\n')
    assert(names.contains("events_hourly") && names.contains("nna_histogram_user"))
    assert(names.length === SparkEntry.queries.size)
    intercept[IllegalArgumentException] { capture("query", "no_such_operator") }
  }

  test("user spec parsing: tiers split on +, bad tier rejected") {
    val users = Cli.parseUsers("a:pw:ADMIN+READER,b:pw2:CACHE")
    assert(users.map(_.name) === Seq("a", "b"))
    assert(users.head.tiers === Set(Security.Admin, Security.Reader))
    intercept[IllegalArgumentException](Cli.parseUsers("a:pw:WIZARD"))
    intercept[IllegalArgumentException](Cli.parseUsers("nocolon"))
  }

  test("unknown command and malformed query fail loudly") {
    intercept[IllegalArgumentException](Cli.run(spark, "frobnicate", dir, Array()))
    intercept[IllegalArgumentException](
      Cli.run(spark, "histogram", dir, Array("set=files"))) // missing type=
  }

  test("explain: sections split on tools/split_plans.py's header, one " +
      "physical plan each; a bad mode fails loudly") {
    val out = capture("explain", "q1_pricing", "nna_histogram_user")
    val header = """(?m)^========== (\S+) ==========\s*$""".r
    assert(header.findAllMatchIn(out).map(_.group(1)).toSeq ===
      Seq("q1_pricing", "nna_histogram_user"))
    val bodies = header.split(out).drop(1)
    assert(bodies.length === 2 && bodies.forall(_.contains("== Physical Plan ==")))
    assert(capture("explain", "q1_pricing", "explain=extended")
      .contains("== Optimized Logical Plan =="))
    intercept[IllegalArgumentException](
      capture("explain", "q1_pricing", "explain=bogus"))
    intercept[IllegalArgumentException](capture("explain", "no_such_operator"))
  }

  test("profile prints the warm run's actions and jobs as countActions " +
      "counts them") {
    val line = capture("profile", "events_hourly").linesIterator
      .find(_.startsWith("PROFILE events_hourly ")).get
    val fields = line.split(' ').drop(2).map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v
    }.toMap
    assert(fields.keySet === Set("cold", "warm", "actions", "jobs", "stages", "tasks"))
    val (acts, jobs) = TestSpark.countActions(
      SparkEntry.queries("events_hourly")(spark, dir).count(): Unit)
    assert((fields("actions").toInt, fields("jobs").toInt) === ((acts, jobs)))
    intercept[IllegalArgumentException](capture("profile"))
  }

  test("the test session carries the session factory's settings") {
    assert(Seq("spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong",
      "spark.sql.codegen.cache.maxEntries").map(spark.conf.get) === Seq("UTC", "true", "5000"))
  }
}
