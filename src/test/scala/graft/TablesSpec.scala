package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Tables

/** Fixture-schema compatibility gate.
  *
  * Loads every [[Tables]] loader against the real driver-generated fixture
  * and asserts the ENGINE-FACING schema — the types the operators assume,
  * after any source-side normalization. The round-4/5 breakage (fixtures
  * silently moved `events.ts` from TIMESTAMP(NANOS) to TIMESTAMP(MICROS),
  * killing 10 queries) shipped because unit tests built synthetic frames
  * with the assumed schema; this spec fails on any future fixture-type
  * drift with a one-line diagnostic naming the table and column.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  private def assertType(table: String, df: DataFrame,
                         col: String, expected: DataType): Unit = {
    val idx = df.schema.fieldNames.indexOf(col)
    assert(idx >= 0, s"$table.$col: column missing from fixture read")
    val got = df.schema(idx).dataType
    assert(got == expected, s"$table.$col: engine expects $expected, fixture read gave $got")
  }

  private def assertTimestampLike(table: String, df: DataFrame, col: String): Unit = {
    val got = df.schema(col).dataType
    assert(got == TimestampType || got == TimestampNTZType,
      s"$table.$col: engine expects a timestamp type (TZ or NTZ), fixture read gave $got")
  }

  test("events: engine contract is epoch-nanos LongType ts") {
    val ev = Tables.events(spark, dir)
    assertType("events", ev, "event_id", LongType)
    assertType("events", ev, "ts", LongType)
    assertType("events", ev, "user_id", LongType)
    assertType("events", ev, "event_type", StringType)
    assertType("events", ev, "value", DoubleType)
    assertType("events", ev, "props", StringType)
    // value-level guard: epoch-nanos for any plausible event date lands in
    // [2000-01-01, 2100-01-01) — catches a micros/millis mis-normalization
    // (3–6 orders of magnitude off) that a type check alone would miss.
    val minTs = ev.agg(org.apache.spark.sql.functions.min("ts")).head.getLong(0)
    assert(minTs > 946684800000000000L && minTs < 4102444800000000000L,
      s"events.ts: min value $minTs is not epoch-NANOS in [2000, 2100)")
  }

  test("normalizeTsNanos: every vintage branch lands on epoch-nanos") {
    import spark.implicits._
    val base = 1735700000123456L // micros, sub-second precision preserved
    // TIMESTAMP_NTZ vintage (current fixtures)
    val ntz = Seq(1L).toDF("event_id")
      .withColumn("ts", org.apache.spark.sql.functions
        .timestamp_micros(org.apache.spark.sql.functions.lit(base))
        .cast(TimestampNTZType))
    val gotNtz = Tables.normalizeTsNanos(ntz)
    assert(gotNtz.schema("ts").dataType == LongType)
    assert(gotNtz.head.getAs[Long]("ts") === base * 1000L)
    // TIMESTAMP (instant) vintage — session TZ is pinned UTC, same value
    val tz = Seq(1L).toDF("event_id")
      .withColumn("ts", org.apache.spark.sql.functions
        .timestamp_micros(org.apache.spark.sql.functions.lit(base)))
    assert(Tables.normalizeTsNanos(tz).head.getAs[Long]("ts") === base * 1000L)
    // LongType vintage passes through untouched
    val raw = Seq((1L, base * 1000L)).toDF("event_id", "ts")
    assert(Tables.normalizeTsNanos(raw).head.getAs[Long]("ts") === base * 1000L)
    // anything else fails loudly, naming the type
    val bad = Seq((1L, "oops")).toDF("event_id", "ts")
    val e = intercept[IllegalArgumentException] {
      Tables.normalizeTsNanos(bad)
    }
    assert(e.getMessage.contains("StringType"))
  }

  test("events stream: same ts contract as the batch loader") {
    val st = graft.streaming.EventsStream.readStream(spark, dir)
    assertType("events(stream)", st, "ts", LongType)
    assertType("events(stream)", st, "event_time", TimestampType)
  }

  test("embeddings: float-array embedding column") {
    val emb = Tables.embeddings(spark, dir)
    assertType("embeddings", emb, "vec_id", LongType)
    assertType("embeddings", emb, "embedding", ArrayType(FloatType))
    assertType("embeddings", emb, "label", IntegerType)
  }

  test("documents: id/text/lang/source/n_chars") {
    val docs = Tables.documents(spark, dir)
    assertType("documents", docs, "doc_id", LongType)
    assertType("documents", docs, "text", StringType)
    assertType("documents", docs, "lang", StringType)
    assertType("documents", docs, "source", StringType)
    assertType("documents", docs, "n_chars", LongType)
  }

  test("tpch tables: key/measure/date types the queries assume") {
    val li = Tables.lineitem(spark, dir)
    assertType("lineitem", li, "l_orderkey", LongType)
    assertType("lineitem", li, "l_quantity", DoubleType)
    assertType("lineitem", li, "l_extendedprice", DoubleType)
    assertType("lineitem", li, "l_discount", DoubleType)
    assertTimestampLike("lineitem", li, "l_shipdate")

    val ord = Tables.orders(spark, dir)
    assertType("orders", ord, "o_orderkey", LongType)
    assertType("orders", ord, "o_custkey", LongType)
    assertType("orders", ord, "o_totalprice", DoubleType)
    assertTimestampLike("orders", ord, "o_orderdate")

    assertType("customer", Tables.customer(spark, dir), "c_custkey", LongType)
    assertType("customer", Tables.customer(spark, dir), "c_nationkey", IntegerType)
    assertType("supplier", Tables.supplier(spark, dir), "s_suppkey", LongType)
    assertType("part", Tables.part(spark, dir), "p_partkey", LongType)
    assertType("nation", Tables.nation(spark, dir), "n_nationkey", IntegerType)
    assertType("nation", Tables.nation(spark, dir), "n_regionkey", IntegerType)
    assertType("region", Tables.region(spark, dir), "r_regionkey", IntegerType)
  }

  test("schema cache: immutable-fixture assumption is documented AND " +
      "invalidateSchemaCache is the regeneration door") {
    import org.apache.spark.sql.functions.col
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-tabcache").toString
    spark.range(3).select(col("id").as("a"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    assert(Tables.table(spark, tmp, "documents")
      .schema.fieldNames.toSeq == Seq("a"))
    // regenerate the fixture at the same path with a DIFFERENT schema:
    // the cache (per the documented immutable-fixture contract) still
    // serves the stale shape ...
    spark.range(3).select(col("id").as("a"), (col("id") * 2).as("b"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    assert(Tables.table(spark, tmp, "documents")
      .schema.fieldNames.toSeq == Seq("a"))
    // a SIBLING directory whose name extends tmp's (`${tmp}x`) is
    // cached, then rewritten the same way
    val sib = s"${tmp}x"
    spark.range(3).select(col("id").as("a"))
      .write.mode("overwrite").parquet(s"$sib/documents.parquet")
    assert(Tables.table(spark, sib, "documents")
      .schema.fieldNames.toSeq == Seq("a"))
    spark.range(3).select(col("id").as("a"), (col("id") * 2).as("b"))
      .write.mode("overwrite").parquet(s"$sib/documents.parquet")
    // ... until the regeneration hook drops it
    Tables.invalidateSchemaCache(Some(tmp))
    assert(Tables.table(spark, tmp, "documents")
      .schema.fieldNames.toSeq == Seq("a", "b"))
    // the hook matches on the directory boundary: the sibling keeps
    // serving its cached shape
    assert(Tables.table(spark, sib, "documents")
      .schema.fieldNames.toSeq == Seq("a"),
      "invalidating a directory dropped a sibling's cached schema")
    Tables.invalidateSchemaCache(Some(tmp))
    Tables.invalidateSchemaCache(Some(sib))
    Seq(tmp, sib).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
  }
}
