package graft.ingest

import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Real-namespace front door: ingest an HDFS **OIV delimited dump**
  * (`hdfs oiv -p Delimited`, the public text rendering of an fsimage —
  * Hadoop's `PBImageDelimitedTextWriter`) into the exact
  * [[graft.inodes.InodeView.columns]] schema, so every NNA operator
  * (filters, histograms, quota ancestry, subtree aggregation) runs
  * unchanged against an actual HDFS namespace.
  *
  * The reference boots by replaying the binary fsimage through an embedded
  * NameNode (`NameNodeLoader.java:319-396` → `FSNamesystem.loadFromDisk`)
  * and then walks the heap GSet. Spark-first, the right ingest point is the
  * *portable* image format: a delimited dump is a splittable, schema-stable
  * text table that the CSV datasource scans partition-parallel — no
  * NameNode heap, no single-threaded protobuf walk. A 100 TB namespace's
  * dump (~billions of rows, ~100s of GB of TSV) ingests as an ordinary
  * distributed scan + two linear shuffles (children counts, quota usage).
  *
  * Column semantics mirror `AbstractQueryEngine.java:155-379`: this door
  * parses the stored columns (permission → octal, mod/access times →
  * epoch ms, `nsQuota`/`dsQuota` from the dump's quota columns); `name`,
  * `parent`, `depth`, `hasQuota`, the child count and the two quota-usage
  * columns (the dump does not carry them) come from the tree by the
  * shared [[graft.inodes.InodeView.derive]]. Fields absent from the
  * delimited format (storage policy, EC flag, under-construction,
  * snapshot flag) default to 0/false — the same defaults the reference
  * reports for pre-2.7 images via its VersionContext fallbacks.
  */
object FsImageSource {

  /** Raw schema of `hdfs oiv -p Delimited` output (header line included). */
  val rawSchema: StructType = StructType(Seq(
    StructField("Path", StringType),
    StructField("Replication", LongType),
    StructField("ModificationTime", StringType),
    StructField("AccessTime", StringType),
    StructField("PreferredBlockSize", LongType),
    StructField("BlocksCount", LongType),
    StructField("FileSize", LongType),
    StructField("NSQUOTA", LongType),
    StructField("DSQUOTA", LongType),
    StructField("Permission", StringType),
    StructField("UserName", StringType),
    StructField("GroupName", StringType)))

  /** The delimited dump as-is: a partition-parallel CSV scan. */
  def readDelimited(spark: SparkSession, path: String,
                    delimiter: String = "\t"): DataFrame =
    spark.read
      .option("sep", delimiter)
      .option("header", "true")
      .schema(rawSchema)
      .csv(path)

  /** One rwx triad of a `drwxr-xr-x`-style string → its octal digit.
    * `s`/`t` (setuid/setgid/sticky, lowercase) imply the execute bit. */
  private def triad(perm: Column, off: Int): Column =
    when(substring(perm, off, 1) === "r", 2L).otherwise(0L) * 2 +
      when(substring(perm, off + 1, 1) === "w", 2L).otherwise(0L) +
      when(substring(perm, off + 2, 1).isin("x", "s", "t"), 1L).otherwise(0L)

  /** The special-bits octal digit from the symbolic rendering: `s`/`S`
    * in the user-execute slot = setuid (4), in the group-execute slot =
    * setgid (2), `t`/`T` in the other-execute slot = sticky (1). Kept as
    * the thousands digit so a sticky dir reads `1777` — the reference's
    * `toOctalString(permShort)` rendering (`AbstractQueryEngine.java:193`). */
  private def specialDigit(perm: Column): Column =
    when(substring(perm, 4, 1).isin("s", "S"), 4L).otherwise(0L) +
      when(substring(perm, 7, 1).isin("s", "S"), 2L).otherwise(0L) +
      when(substring(perm, 10, 1).isin("t", "T"), 1L).otherwise(0L)

  /** `yyyy-MM-dd HH:mm` (the dump's date rendering) → epoch millis (UTC). */
  private def epochMs(c: Column): Column =
    unix_millis(to_timestamp(c, "yyyy-MM-dd HH:mm"))

  /** Ingest a delimited dump into the full inodes schema: one narrow
    * projection over the scan (all scalar parses codegen) to the
    * [[graft.inodes.InodeView.stored]] columns, then the shared
    * [[graft.inodes.InodeView.derive]]. */
  def inodes(spark: SparkSession, path: String): DataFrame = {
    val p = col("Path")
    val perm = col("Permission")
    val isFile = !perm.startsWith("d")
    // The delimited format drops inode ids; derive a stable synthetic one.
    // COLLISION BOUND: a 64-bit hash over n paths collides with probability
    // ≈ n²/2⁶⁵ (birthday) — ~0.3% at 100M inodes, ~3% at 1B, ~50% at 4B; a
    // collision silently merges two inodes in every id-keyed distinct /
    // semi-join (underQuota hit-ids, CDC merge). For full-fidelity ingestion
    // use the XML front door ([[FsImageXmlSource]]), which carries the REAL
    // inode ids (unique by construction in the NameNode); the delimited path
    // is kept for quick looks at dump files where ids are absent anyway.
    graft.inodes.InodeView.derive(readDelimited(spark, path).select(
      xxhash64(p).as("id"),
      p.as("path"),
      isFile.as("isFile"),
      col("UserName").as("user"),
      col("GroupName").as("group"),
      (specialDigit(perm) * 1000 + triad(perm, 2) * 100 + triad(perm, 5) * 10
        + triad(perm, 8)).as("permission"),
      epochMs(col("AccessTime")).as("accessTime"),
      epochMs(col("ModificationTime")).as("modTime"),
      col("FileSize").as("fileSize"),
      col("PreferredBlockSize").as("blockSize"),
      col("BlocksCount").as("numBlocks"),
      col("Replication").as("fileReplica"),
      lit(0L).as("storagePolicyId"),
      lit(false).as("isUnderConstruction"),
      lit(false).as("isWithSnapshot"),
      perm.endsWith("+").as("hasAcl"),
      lit(false).as("hasEcPolicy"),
      when(isFile, -1L).otherwise(col("NSQUOTA")).as("nsQuota"),
      when(isFile, -1L).otherwise(col("DSQUOTA")).as("dsQuota")))
  }

  /** Convert-once path: materialize an ingested namespace as parquet in
    * the inodes schema. Re-loading via the `inodes:` locator is then a
    * columnar scan with predicate pushdown and column pruning — the right
    * production shape for repeated analysis, instead of re-parsing the
    * TSV and re-deriving quota usage every session. */
  def exportParquet(spark: SparkSession, dumpPath: String,
                    outDir: String): Unit =
    inodes(spark, dumpPath).write.mode("overwrite").parquet(outDir)

  // ---------------------------------------------------------------------------
  // DuckDB mirror of the derivation above and of InodeView.derive, for
  // oracle checks over the SAME dump file. `oiv` is the final CTE
  // (quota-usage columns mirrored via a prefix-LIKE join — quadratic but
  // fine at fixture size; the Spark side is the scalable ancestor-explode).
  // Any edit here MUST be mirrored in the Spark code and vice versa.
  // ---------------------------------------------------------------------------
  def oracleCte(dumpPath: String): String = s"""
WITH raw AS (
  SELECT * FROM read_csv('$dumpPath', delim='\t', header=true, columns={
    'Path':'VARCHAR','Replication':'BIGINT','ModificationTime':'VARCHAR',
    'AccessTime':'VARCHAR','PreferredBlockSize':'BIGINT','BlocksCount':'BIGINT',
    'FileSize':'BIGINT','NSQUOTA':'BIGINT','DSQUOTA':'BIGINT',
    'Permission':'VARCHAR','UserName':'VARCHAR','GroupName':'VARCHAR'})
), base AS (
  SELECT
    Path AS path,
    CASE WHEN Path = '/' THEN '/' ELSE regexp_extract(Path, '[^/]*$$') END AS name,
    CASE WHEN Path = '/' THEN 0
         ELSE length(Path) - length(replace(Path, '/', '')) END AS depth,
    NOT starts_with(Permission, 'd') AS isFile,
    UserName AS "user", GroupName AS "group",
    (CASE WHEN substr(Permission, 4, 1) IN ('s','S') THEN 4 ELSE 0 END
     + CASE WHEN substr(Permission, 7, 1) IN ('s','S') THEN 2 ELSE 0 END
     + CASE WHEN substr(Permission, 10, 1) IN ('t','T') THEN 1 ELSE 0 END) * 1000
    + (CASE WHEN substr(Permission, 2, 1) = 'r' THEN 4 ELSE 0 END
     + CASE WHEN substr(Permission, 3, 1) = 'w' THEN 2 ELSE 0 END
     + CASE WHEN substr(Permission, 4, 1) IN ('x','s','t') THEN 1 ELSE 0 END) * 100
    + (CASE WHEN substr(Permission, 5, 1) = 'r' THEN 4 ELSE 0 END
     + CASE WHEN substr(Permission, 6, 1) = 'w' THEN 2 ELSE 0 END
     + CASE WHEN substr(Permission, 7, 1) IN ('x','s','t') THEN 1 ELSE 0 END) * 10
    + (CASE WHEN substr(Permission, 8, 1) = 'r' THEN 4 ELSE 0 END
     + CASE WHEN substr(Permission, 9, 1) = 'w' THEN 2 ELSE 0 END
     + CASE WHEN substr(Permission, 10, 1) IN ('x','s','t') THEN 1 ELSE 0 END)
      AS permission,
    epoch_ms(strptime(AccessTime, '%Y-%m-%d %H:%M')) AS accessTime,
    epoch_ms(strptime(ModificationTime, '%Y-%m-%d %H:%M')) AS modTime,
    FileSize AS fileSize,
    PreferredBlockSize AS blockSize,
    BlocksCount AS numBlocks,
    Replication AS fileReplica,
    ends_with(Permission, '+') AS hasAcl,
    CASE WHEN starts_with(Permission, 'd') THEN NSQUOTA ELSE -1 END AS nsQuota,
    CASE WHEN starts_with(Permission, 'd') THEN DSQUOTA ELSE -1 END AS dsQuota,
    starts_with(Permission, 'd')
      AND (CASE WHEN starts_with(Permission, 'd') THEN NSQUOTA ELSE -1 END >= 0
        OR CASE WHEN starts_with(Permission, 'd') THEN DSQUOTA ELSE -1 END >= 0)
      AS hasQuota
  FROM raw
), children AS (
  SELECT CASE WHEN depth = 1 THEN '/'
              ELSE substr(path, 1, length(path) - length(name) - 1) END AS parent,
         COUNT(*) AS nchild
  FROM base WHERE path <> '/' GROUP BY 1
), usage AS (
  SELECT q.path,
         COUNT(*) AS nsDesc,
         CAST(SUM(CASE WHEN d.isFile THEN d.fileSize * GREATEST(d.fileReplica, 1)
           ELSE 0 END) AS BIGINT) AS dsUsed
  FROM base q JOIN base d ON d.path LIKE q.path || '/%'
  WHERE q.hasQuota GROUP BY q.path
), oiv AS (
  SELECT b.path, b.name, b.depth, b.isFile, b."user", b."group", b.permission,
    b.accessTime, b.modTime, b.fileSize, b.blockSize, b.numBlocks,
    b.fileReplica, b.hasAcl, b.hasQuota, b.nsQuota, b.dsQuota,
    CASE WHEN b.hasQuota THEN COALESCE(u.nsDesc, 0) + 1 ELSE 0 END AS nsQuotaUsed,
    CASE WHEN b.hasQuota THEN COALESCE(u.dsUsed, 0) ELSE 0 END AS dsQuotaUsed,
    CASE WHEN NOT b.isFile THEN COALESCE(c.nchild, 0) ELSE 0 END AS dirNumChildren
  FROM base b
  LEFT JOIN children c ON c.parent = b.path
  LEFT JOIN usage u ON u.path = b.path
)
"""
}
