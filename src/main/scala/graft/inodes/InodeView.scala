package graft.inodes

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Deterministic derivation of an HDFS-namespace-like `inodes` relation from
  * the driver's `lineitem` table, so that every file-system-metadata operator
  * (the NNA vocabulary: filters, sums, histograms, quota ancestry, subtree
  * aggregation — see SURVEY.md §1.2/§2) is exercisable AND oracle-checkable:
  * [[oracleCte]] is the byte-equivalent DuckDB SQL of this derivation, so a
  * DuckDB query over the CTE must hash-match the Spark plan over [[inodes]].
  *
  * Schema mirrors the reference's column catalog
  * (`/root/reference/src/main/java/org/apache/hadoop/hdfs/server/namenode/
  * AbstractQueryEngine.java:155-379`, `VersionContext.java:113-249`); the
  * fixture value distributions echo the reference's test generator
  * (`src/test/java/.../GSetGeneratorBase.java:47-103`).
  *
  * Every row of `lineitem` becomes one *file* under a 3-level directory tree
  * `/<returnflag>/<linestatus>/d<orderkey%100>/…`; directories are derived by
  * aggregation over their children. All arithmetic is integer / exact so both
  * engines agree bit-for-bit.
  *
  * Scale note: the file side is a narrow projection of the scan — stateless,
  * partition-parallel, no shuffle. The dirs side is one groupBy whose
  * cardinality is bounded by the tree shape (≤ ~700 dirs regardless of sf),
  * so its window-based id assignment is a non-issue even at 100 TB.
  */
object InodeView {

  /** Fixed "now" for all relative-time semantics (2025-01-01T00:00:00Z).
    * The reference reads the wall clock per element
    * (`AbstractQueryEngine.java:722-740`); we take `now` as an explicit
    * parameter for determinism (SURVEY §7.4.7). */
  val NowMs: Long = 1735689600000L
  val DayMs: Long = 86400000L
  val TwoYearsMs: Long = 730L * DayMs
  val BlockSize: Long = 134217728L

  /** HDFS storage policy ids → names (reference `StorageTypeHistogram.java:32-39`). */
  val StoragePolicies: Seq[(Long, String)] = Seq(
    15L -> "LAZY_PERSIST", 12L -> "ALL_SSD", 10L -> "ONE_SSD",
    7L -> "HOT", 5L -> "WARM", 2L -> "COLD", 1L -> "PROVIDED")
  private val policyBySlot = Seq(15L, 12L, 10L, 7L, 5L, 2L, 0L) // slot = skey % 7

  val columns: Seq[String] = Seq(
    "id", "path", "name", "parent", "depth", "isFile", "user", "group",
    "permission", "accessTime", "modTime", "fileSize", "blockSize",
    "numBlocks", "fileReplica", "storagePolicyId", "isUnderConstruction",
    "isWithSnapshot", "hasAcl", "hasEcPolicy", "hasQuota", "nsQuota",
    "dsQuota", "nsQuotaUsed", "dsQuotaUsed", "dirNumChildren")

  /** The columns an inode carries by itself. Every other column of
    * [[columns]] follows from these and the tree, by [[derive]]. */
  val stored: Seq[String] = Seq(
    "id", "path", "isFile", "user", "group", "permission", "accessTime",
    "modTime", "fileSize", "blockSize", "numBlocks", "fileReplica",
    "storagePolicyId", "isUnderConstruction", "isWithSnapshot", "hasAcl",
    "hasEcPolicy", "nsQuota", "dsQuota")

  /** The parent directory of an absolute path: null for the root, `/` at
    * depth 1. */
  def parentOf(path: Column): Column = {
    val up = regexp_extract(path, "^(.*)/[^/]*$", 1)
    when(path === "/", lit(null).cast("string"))
      .when(up === "", "/").otherwise(up)
  }

  /** The full [[columns]] relation from the [[stored]] ones — the single
    * derivation every fsimage front door and the edit-log replay share:
    *   - `name`, `parent`, `depth` from the path (root: `/`, null, 0);
    *   - `hasQuota` = a directory with either quota set (≥ 0);
    *   - `dirNumChildren` = one `groupBy(parent)`;
    *   - `nsQuotaUsed` = 1 + #descendants (HDFS counts the dir itself) and
    *     `dsQuotaUsed` = Σ descendant fileSize × max(replication, 1) (an EC
    *     file has no replication factor and consumes its size), both from
    *     one ancestor explode + `groupBy`, kept on quota dirs only.
    * Returns [[columns]] in order, then any extra input column unchanged.
    * Two linear shuffles; nothing is collected. */
  def derive(df: DataFrame): DataFrame = {
    val path = col("path")
    val base = df
      .withColumn("name", when(path === "/", "/")
        .otherwise(substring_index(path, "/", -1)))
      .withColumn("depth", when(path === "/", 0L)
        .otherwise(size(split(path, "/")).cast("long") - 1))
      .withColumn("parent", parentOf(path))
      .withColumn("hasQuota",
        !col("isFile") && (col("nsQuota") >= 0 || col("dsQuota") >= 0))
    val children = base.groupBy(col("parent").as("path"))
      .agg(count(lit(1)).as("__nchild"))
    val usage = graft.engine.PathStructure.withAncestors(
        base.select(path, col("isFile"), col("fileSize"), col("fileReplica")))
      .groupBy(col("ancestor").as("path"))
      .agg(
        count(lit(1)).as("__nsDesc"),
        sum(when(col("isFile"),
            col("fileSize") * greatest(col("fileReplica"), lit(1L)))
          .otherwise(0L)).as("__dsUsed"))
    base
      .join(children, Seq("path"), "left")
      .join(usage, Seq("path"), "left")
      .select(columns.map {
        case "nsQuotaUsed" =>
          when(col("hasQuota"), coalesce(col("__nsDesc"), lit(0L)) + 1L)
            .otherwise(0L).as("nsQuotaUsed")
        case "dsQuotaUsed" =>
          when(col("hasQuota"), coalesce(col("__dsUsed"), lit(0L)))
            .otherwise(0L).as("dsQuotaUsed")
        case "dirNumChildren" =>
          when(!col("isFile"), coalesce(col("__nchild"), lit(0L)))
            .otherwise(0L).as("dirNumChildren")
        case c => col(c)
      } ++ df.columns.filterNot(columns.contains).map(col): _*)
  }

  /** The inodes DataFrame for a source locator:
    *   - `oiv:<path>` → a real namespace, ingested from an OIV delimited
    *     dump ([[graft.ingest.FsImageSource]]) — the production front door;
    *   - `oivxml:<path>` → full fidelity from an `oiv -p XML` dump
    *     ([[graft.ingest.FsImageXmlSource]]);
    *   - `oivbin:<path>` → full fidelity from the BINARY fsimage itself
    *     ([[graft.ingest.FsImageBinary]]), no oiv preprocessing;
    *   - `inodes:<path>` → a namespace already materialized in this schema
    *     (e.g. by [[graft.ingest.FsImageSource.exportParquet]]) — columnar
    *     re-load with pushdown/pruning, no re-derivation;
    *   - anything else → the TPCH-derived synthetic fixture (files ∪ dirs)
    *     used for oracle-checked correctness at scale factors.
    * All produce the identical [[columns]] schema, so every operator and
    * the snapshot cache work unchanged against any of them. */
  def inodes(spark: SparkSession, dir: String): DataFrame =
    if (dir.startsWith("oivxml:"))
      graft.ingest.FsImageXmlSource.inodes(spark, dir.stripPrefix("oivxml:"))
        .select(columns.map(col): _*)
    else if (dir.startsWith("oivbin:"))
      graft.ingest.FsImageBinary.inodes(spark, dir.stripPrefix("oivbin:"))
        .select(columns.map(col): _*)
    else if (dir.startsWith("oiv:"))
      graft.ingest.FsImageSource.inodes(spark, dir.stripPrefix("oiv:"))
    else if (dir.startsWith("inodes:"))
      spark.read.parquet(dir.stripPrefix("inodes:"))
        .select(columns.map(col): _*)
    else {
      val fs = files(spark, dir)
      fs.select(columns.map(col): _*).unionAll(dirs(fs).select(columns.map(col): _*))
    }

  // The reference's whole design is namespace-snapshot-in-memory
  // (`NameNodeLoader.load` + GSet swap, SURVEY §2.1 S1/S2); the Spark analog
  // is a persisted DataFrame. One derivation per (session, dir); queries
  // then run against the columnar in-memory snapshot exactly like NNA's
  // queries run against its heap set. MEMORY_AND_DISK: spills instead of
  // OOM at large SF.
  private val snapshots =
    new java.util.concurrent.ConcurrentHashMap[String, (SparkSession, DataFrame)]()

  /** Cached snapshot of the derived inodes relation. Guarded by a plain
    * monitor (not ConcurrentHashMap.compute) so Spark plan analysis never
    * runs under a map bin lock; a displaced entry (same dir, new session —
    * the old one is typically stopped) is unpersisted to release its blocks. */
  def snapshot(spark: SparkSession, dir: String): DataFrame = synchronized {
    val cur = snapshots.get(dir)
    if (cur != null && (cur._1 eq spark)) cur._2
    else {
      val df = inodes(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      if (cur != null) {
        graft.engine.PathStructure.invalidateGates(cur._2)
        try cur._2.unpersist()
        catch { case _: Throwable => () } // stopped session: nothing to free
      }
      snapshots.put(dir, (spark, df))
      df
    }
  }

  /** Drop a cached snapshot (reference `/reloadNamespace` analog), along
    * with any broadcast-gate decisions memoized against it. */
  def invalidate(dir: String): Unit = {
    val e = snapshots.remove(dir)
    if (e != null) {
      graft.engine.PathStructure.invalidateGates(e._2)
      e._2.unpersist()
    }
  }

  /** File inodes: one per lineitem row. */
  def files(spark: SparkSession, dir: String): DataFrame = {
    val li = graft.core.Tables.lineitem(spark, dir)
    val okey = col("l_orderkey")
    val pkey = col("l_partkey")
    val skey = col("l_suppkey")
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic data; derive
    // a collision-free id from a rank within each order (full-tuple order is
    // total). Partitioned window → distributes, no global sort.
    val w = Window.partitionBy(okey).orderBy(
      col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_shipdate"), col("l_quantity"))
    val f0 = li.withColumn("rn", row_number().over(w).cast("long")).select(
      (okey * 32 + col("rn")).as("id"),
      col("l_returnflag").as("rf"),
      col("l_linestatus").as("ls"),
      (okey % 100).as("dnum"),
      okey.as("okey"), pkey.as("pkey"), skey.as("skey"),
      round(col("l_extendedprice")).cast("long").as("price"),
      round(col("l_discount") * 100).cast("long").as("disc"),
      round(col("l_tax") * 100).cast("long").as("tax"),
      // parquet stores shipdate as TIMESTAMP_NTZ; session TZ is UTC, so the
      // NTZ→LTZ cast yields the same epoch DuckDB's epoch_ms computes
      unix_millis(col("l_shipdate").cast("timestamp")).as("sd_ms"))

    val parent = concat(lit("/"), col("rf"), lit("/"), col("ls"), lit("/d"),
      col("dnum").cast("string"))
    val ids = col("id").cast("string")
    val name = {
      val e = col("pkey") % 10
      when(e === 0, concat(lit("f"), ids, lit(".parquet")))
        .when(e === 1, concat(lit("f"), ids, lit(".avro")))
        .when(e === 2, concat(lit("f"), ids, lit(".log")))
        .when(e === 3, concat(lit("f"), ids, lit(".txt")))
        .when(e === 4, concat(lit("f"), ids, lit(".gz")))
        .when(e === 5, concat(lit("f"), ids, lit(".json")))
        .when(e === 6, concat(lit("f"), ids, lit(".csv")))
        .when(e === 7, concat(lit("f"), ids, lit(".orc")))
        .when(e === 8, concat(lit("part-0"), ids))
        .otherwise(concat(lit("f"), ids))
    }
    val fileSize = when(col("disc") === 0, 0L)
      .when(col("tax") === 0, col("price"))
      .otherwise(col("price") * 1024)
    val modTime = lit(NowMs) - (col("sd_ms") % TwoYearsMs)

    f0.select(
      col("id"),
      concat(parent, lit("/"), name).as("path"),
      name.as("name"),
      parent.as("parent"),
      lit(4L).as("depth"),
      lit(true).as("isFile"),
      concat(lit("u"), (col("skey") % 10).cast("string")).as("user"),
      concat(lit("g"), (col("skey") % 3).cast("string")).as("group"),
      when(col("pkey") % 3 === 0, 644L).when(col("pkey") % 3 === 1, 755L)
        .otherwise(777L).as("permission"),
      (modTime - (col("pkey") % 365) * DayMs).as("accessTime"),
      modTime.as("modTime"),
      fileSize.as("fileSize"),
      lit(BlockSize).as("blockSize"),
      when(fileSize === 0, 0L).otherwise(col("id") % 3 + 1).as("numBlocks"),
      when(col("pkey") % 2 === 0, 3L).otherwise(col("skey") % 10 + 1).as("fileReplica"),
      policyBySlot.zipWithIndex.foldLeft(lit(0L)) { case (acc, (p, i)) =>
        when(col("skey") % 7 === i, lit(p)).otherwise(acc)
      }.as("storagePolicyId"),
      (col("okey") % 50 === 0).as("isUnderConstruction"),
      (col("okey") % 7 === 0).as("isWithSnapshot"),
      (col("pkey") % 11 === 0).as("hasAcl"),
      lit(false).as("hasEcPolicy"),
      lit(false).as("hasQuota"),
      lit(-1L).as("nsQuota"),
      lit(-1L).as("dsQuota"),
      lit(0L).as("nsQuotaUsed"),
      lit(0L).as("dsQuotaUsed"),
      lit(0L).as("dirNumChildren"))
  }

  /** Directory inodes at depths 3, 2, 1, derived by aggregating children.
    * Quotas live on even-numbered depth-3 dirs (`GSetGenerator.java:72-76`
    * puts quotas on ~50% of dirs). */
  def dirs(files: DataFrame): DataFrame = {
    val d3 = files
      .groupBy(col("parent").as("path"))
      .agg(
        min("modTime").as("modTime"), min("accessTime").as("accessTime"),
        count(lit(1)).as("nchild"), sum("fileSize").as("subBytes"))
      .select(
        col("path"),
        substring_index(col("path"), "/", -1).as("name"),
        regexp_replace(col("path"), "/d[0-9]+$", "").as("parent"),
        lit(3L).as("depth"), col("modTime"), col("accessTime"), col("nchild"),
        (substring(substring_index(col("path"), "/d", -1), 1, 10)
          .cast("long") % 2 === 0).as("hasQuota"),
        col("subBytes"))
    // quota also lives on the depth-2 'O' dirs so the oracle exercises a
    // REAL ancestor walk (files sit 2 levels below, never direct children)
    val d2 = d3.groupBy(col("parent").as("path"))
      .agg(min("modTime").as("modTime"), min("accessTime").as("accessTime"),
        count(lit(1)).as("nchild"), sum("subBytes").as("subBytes"))
      .select(col("path"), substring_index(col("path"), "/", -1).as("name"),
        substring_index(col("path"), "/", 2).as("parent"),
        lit(2L).as("depth"), col("modTime"), col("accessTime"), col("nchild"),
        (substring_index(col("path"), "/", -1) === "O").as("hasQuota"),
        col("subBytes"))
    val d1 = d2.groupBy(col("parent").as("path"))
      .agg(min("modTime").as("modTime"), min("accessTime").as("accessTime"),
        count(lit(1)).as("nchild"))
      .select(col("path"), substring_index(col("path"), "/", -1).as("name"),
        lit("/").as("parent"),
        lit(1L).as("depth"), col("modTime"), col("accessTime"), col("nchild"),
        lit(false).as("hasQuota"), lit(0L).as("subBytes"))

    val all = d3.unionAll(d2).unionAll(d1)
    // Dir cardinality is bounded by the tree shape (~700), so a
    // single-partition window for id assignment is safe at any data
    // scale. Partitioning by a constant-valued (but non-literal)
    // expression declares that single partition explicitly — same plan
    // shape, but no spurious `WindowExec: No Partition Defined` warning
    // drowning out REAL global-window hazards on every snapshot load.
    all
      .withColumn("id", lit(1000000000L) + row_number().over(
        Window.partitionBy(col("path").isNull).orderBy("path")).cast("long"))
      .select(
        col("id"), col("path"), col("name"), col("parent"), col("depth"),
        lit(false).as("isFile"),
        lit("hdfs").as("user"), lit("hdfs").as("group"),
        lit(755L).as("permission"),
        col("accessTime"), col("modTime"),
        lit(0L).as("fileSize"), lit(0L).as("blockSize"), lit(0L).as("numBlocks"),
        lit(0L).as("fileReplica"), lit(0L).as("storagePolicyId"),
        lit(false).as("isUnderConstruction"), lit(false).as("isWithSnapshot"),
        lit(false).as("hasAcl"), lit(false).as("hasEcPolicy"),
        col("hasQuota"),
        when(col("hasQuota"), 9000L).otherwise(-1L).as("nsQuota"),
        when(col("hasQuota"), 9999999999L).otherwise(-1L).as("dsQuota"),
        when(col("hasQuota"), col("nchild")).otherwise(0L).as("nsQuotaUsed"),
        when(col("hasQuota"), col("subBytes") % 9999999999L).otherwise(0L).as("dsQuotaUsed"),
        col("nchild").as("dirNumChildren"))
  }

  /** `files` / `dirs` / `all` set views (`AbstractQueryEngine.java:122-146`). */
  def inodeSet(inodes: DataFrame, set: String): DataFrame = set match {
    case "files" => inodes.where(col("isFile"))
    case "dirs"  => inodes.where(!col("isFile"))
    case "all"   => inodes
    case other   => throw new IllegalArgumentException(s"unknown set: $other")
  }

  // ---------------------------------------------------------------------------
  // DuckDB mirror of the derivation above. Prepended (as a WITH clause) to
  // every inode-based oracle query; `inodes` is the final CTE. Any edit here
  // MUST be mirrored in the DataFrame code above and vice versa.
  // ---------------------------------------------------------------------------
  val oracleCte: String = s"""
WITH f0 AS (
  SELECT
    l_orderkey * 32 + ROW_NUMBER() OVER (PARTITION BY l_orderkey
      ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice,
               l_discount, l_tax, l_shipdate, l_quantity) AS id,
    l_returnflag AS rf, l_linestatus AS ls,
    l_orderkey % 100 AS dnum,
    l_orderkey AS okey, l_partkey AS pkey, l_suppkey AS skey,
    CAST(ROUND(l_extendedprice) AS BIGINT) AS price,
    CAST(ROUND(l_discount * 100) AS BIGINT) AS disc,
    CAST(ROUND(l_tax * 100) AS BIGINT) AS tax,
    epoch_ms(l_shipdate) AS sd_ms
  FROM lineitem
), f1 AS (
  SELECT *,
    '/' || rf || '/' || ls || '/d' || CAST(dnum AS VARCHAR) AS parent,
    CASE pkey % 10
      WHEN 0 THEN 'f' || CAST(id AS VARCHAR) || '.parquet'
      WHEN 1 THEN 'f' || CAST(id AS VARCHAR) || '.avro'
      WHEN 2 THEN 'f' || CAST(id AS VARCHAR) || '.log'
      WHEN 3 THEN 'f' || CAST(id AS VARCHAR) || '.txt'
      WHEN 4 THEN 'f' || CAST(id AS VARCHAR) || '.gz'
      WHEN 5 THEN 'f' || CAST(id AS VARCHAR) || '.json'
      WHEN 6 THEN 'f' || CAST(id AS VARCHAR) || '.csv'
      WHEN 7 THEN 'f' || CAST(id AS VARCHAR) || '.orc'
      WHEN 8 THEN 'part-0' || CAST(id AS VARCHAR)
      ELSE 'f' || CAST(id AS VARCHAR)
    END AS name,
    CASE WHEN disc = 0 THEN 0 WHEN tax = 0 THEN price ELSE price * 1024 END AS fileSize,
    $NowMs - (sd_ms % $TwoYearsMs) AS modTime
  FROM f0
), files AS (
  SELECT
    id, parent || '/' || name AS path, name, parent,
    CAST(4 AS BIGINT) AS depth, TRUE AS isFile,
    'u' || CAST(skey % 10 AS VARCHAR) AS "user",
    'g' || CAST(skey % 3 AS VARCHAR) AS "group",
    CAST(CASE pkey % 3 WHEN 0 THEN 644 WHEN 1 THEN 755 ELSE 777 END AS BIGINT) AS permission,
    modTime - (pkey % 365) * $DayMs AS accessTime,
    modTime, fileSize,
    CAST($BlockSize AS BIGINT) AS blockSize,
    CASE WHEN fileSize = 0 THEN 0 ELSE id % 3 + 1 END AS numBlocks,
    CASE WHEN pkey % 2 = 0 THEN 3 ELSE skey % 10 + 1 END AS fileReplica,
    CAST(CASE skey % 7 WHEN 0 THEN 15 WHEN 1 THEN 12 WHEN 2 THEN 10 WHEN 3 THEN 7
      WHEN 4 THEN 5 WHEN 5 THEN 2 ELSE 0 END AS BIGINT) AS storagePolicyId,
    okey % 50 = 0 AS isUnderConstruction,
    okey % 7 = 0 AS isWithSnapshot,
    pkey % 11 = 0 AS hasAcl,
    FALSE AS hasEcPolicy, FALSE AS hasQuota,
    CAST(-1 AS BIGINT) AS nsQuota, CAST(-1 AS BIGINT) AS dsQuota,
    CAST(0 AS BIGINT) AS nsQuotaUsed, CAST(0 AS BIGINT) AS dsQuotaUsed,
    CAST(0 AS BIGINT) AS dirNumChildren
  FROM f1
), d3 AS (
  SELECT rf, ls, dnum,
    '/' || rf || '/' || ls || '/d' || CAST(dnum AS VARCHAR) AS path,
    'd' || CAST(dnum AS VARCHAR) AS name,
    '/' || rf || '/' || ls AS parent,
    CAST(3 AS BIGINT) AS depth,
    MIN(modTime) AS modTime,
    MIN(modTime - (pkey % 365) * $DayMs) AS accessTime,
    COUNT(*) AS nchild,
    dnum % 2 = 0 AS hasQuota,
    SUM(fileSize) AS subBytes
  FROM f1 GROUP BY rf, ls, dnum
), d2 AS (
  SELECT rf, ls,
    '/' || rf || '/' || ls AS path, ls AS name, '/' || rf AS parent,
    CAST(2 AS BIGINT) AS depth,
    MIN(modTime) AS modTime, MIN(accessTime) AS accessTime,
    COUNT(*) AS nchild, ls = 'O' AS hasQuota,
    CAST(SUM(subBytes) AS BIGINT) AS subBytes
  FROM d3 GROUP BY rf, ls
), d1 AS (
  SELECT
    '/' || rf AS path, rf AS name, '/' AS parent,
    CAST(1 AS BIGINT) AS depth,
    MIN(modTime) AS modTime, MIN(accessTime) AS accessTime,
    COUNT(*) AS nchild, FALSE AS hasQuota, CAST(0 AS BIGINT) AS subBytes
  FROM d2 GROUP BY rf
), alldirs AS (
  SELECT path, name, parent, depth, modTime, accessTime, nchild, hasQuota, subBytes FROM d3
  UNION ALL SELECT path, name, parent, depth, modTime, accessTime, nchild, hasQuota, subBytes FROM d2
  UNION ALL SELECT path, name, parent, depth, modTime, accessTime, nchild, hasQuota, subBytes FROM d1
), dirs AS (
  SELECT
    1000000000 + ROW_NUMBER() OVER (ORDER BY path) AS id,
    path, name, parent, depth, FALSE AS isFile,
    'hdfs' AS "user", 'hdfs' AS "group",
    CAST(755 AS BIGINT) AS permission,
    accessTime, modTime,
    CAST(0 AS BIGINT) AS fileSize, CAST(0 AS BIGINT) AS blockSize,
    CAST(0 AS BIGINT) AS numBlocks, CAST(0 AS BIGINT) AS fileReplica,
    CAST(0 AS BIGINT) AS storagePolicyId,
    FALSE AS isUnderConstruction, FALSE AS isWithSnapshot,
    FALSE AS hasAcl, FALSE AS hasEcPolicy, hasQuota,
    CAST(CASE WHEN hasQuota THEN 9000 ELSE -1 END AS BIGINT) AS nsQuota,
    CAST(CASE WHEN hasQuota THEN 9999999999 ELSE -1 END AS BIGINT) AS dsQuota,
    CAST(CASE WHEN hasQuota THEN nchild ELSE 0 END AS BIGINT) AS nsQuotaUsed,
    CAST(CASE WHEN hasQuota THEN subBytes % 9999999999 ELSE 0 END AS BIGINT) AS dsQuotaUsed,
    nchild AS dirNumChildren
  FROM alldirs
), inodes AS (
  SELECT id, path, name, parent, depth, isFile, "user", "group", permission,
    accessTime, modTime, fileSize, blockSize, numBlocks, fileReplica,
    storagePolicyId, isUnderConstruction, isWithSnapshot, hasAcl, hasEcPolicy,
    hasQuota, nsQuota, dsQuota, nsQuotaUsed, dsQuotaUsed, dirNumChildren
  FROM files
  UNION ALL
  SELECT id, path, name, parent, depth, isFile, "user", "group", permission,
    accessTime, modTime, fileSize, blockSize, numBlocks, fileReplica,
    storagePolicyId, isUnderConstruction, isWithSnapshot, hasAcl, hasEcPolicy,
    hasQuota, nsQuota, dsQuota, nsQuotaUsed, dsQuotaUsed, dirNumChildren
  FROM dirs
)
"""

  /** Oracle helper: prefix a SELECT with the inode CTE. */
  def oracle(select: String): String = oracleCte + select
}
