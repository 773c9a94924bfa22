package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Every table is read lazily per call — Catalyst prunes columns and pushes
  * filters into the parquet scan, so repeated `table(...)` calls in one plan
  * do not imply repeated full reads. At cluster scale the same call pattern
  * works unchanged against a 100 TB directory of parquet files.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Schema cache: every schema-less `spark.read.parquet` call pays a
    * footer-inference Spark job at `read` time, and a query registry
    * that re-reads the same immutable tables hundreds of times per
    * session pays it hundreds of times (measured: 1 job per
    * `Tables.*` call in every bench run). At deployment scale the
    * same role is played by a catalog table's stored schema. Keyed by
    * path + the nanos conf (it changes how TIMESTAMP(NANOS) columns
    * surface); the cached schema is exactly what inference returned,
    * so reads behave identically.
    *
    * ASSUMPTION (documented contract): the driver-provided tables are
    * IMMUTABLE for the life of the JVM — the driver generates each SF
    * directory once and never rewrites it. A harness that regenerates
    * fixture parquet at the same path inside one JVM must call
    * [[invalidateSchemaCache]] first, or reads serve the stale shape.
    * Bounded like the streaming layer's store-schema cache: a
    * long-lived serving JVM touching unbounded distinct paths clears
    * the map instead of growing without limit (entries re-infer). */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, org.apache.spark.sql.types.StructType]()
  private val SchemaCacheMax = 4096

  /** Drop cached schemas — all of them, or only entries under `dir`
    * (the regeneration hook for test/dev harnesses that rewrite a
    * fixture directory in-JVM). */
  def invalidateSchemaCache(dir: Option[String] = None): Unit = dir match {
    case None => schemaCache.clear()
    case Some(d) =>
      val prefix = d.stripSuffix("/") + "/"
      schemaCache.keySet.removeIf(_.startsWith(prefix)); ()
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key = path + "#nanos=" + spark.conf
      .getOption("spark.sql.legacy.parquet.nanosAsLong").getOrElse("")
    val cached = schemaCache.get(key)
    if (cached != null) spark.read.schema(cached).parquet(path)
    else {
      val df = spark.read.parquet(path)
      if (schemaCache.size() > SchemaCacheMax) schemaCache.clear()
      schemaCache.put(key, df.schema)
      df
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** Engine contract: `events.ts` is epoch-NANOS `LongType` downstream of
    * this loader, regardless of how the fixture vintage encoded it.
    * Fixtures have shipped both parquet TIMESTAMP(NANOS) (readable only as
    * a LONG of epoch-nanos under the legacy conf, set here at first use)
    * and TIMESTAMP(MICROS) (read as TIMESTAMP / TIMESTAMP_NTZ). Normalize
    * once at the source so every operator sees one type. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTsNanos(table(spark, dir, "events"))
  }

  /** Normalize a `ts` column to epoch-nanos `LongType`. The NTZ→instant
    * cast is lossless because every runner pins the session TZ to UTC. */
  def normalizeTsNanos(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => df
    case TimestampType | TimestampNTZType =>
      df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
    case other => throw new IllegalArgumentException(
      s"events.ts: unsupported parquet-read type $other " +
        "(expected LONG epoch-nanos, TIMESTAMP, or TIMESTAMP_NTZ)")
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
