package graft.ingest

import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** FULL-FIDELITY real-namespace front door: ingest an HDFS **OIV XML dump**
  * (`hdfs oiv -p XML`, Hadoop's `PBImageXmlWriter` — the public, lossless
  * text rendering of an fsimage) into the exact
  * [[graft.inodes.InodeView.columns]] schema.
  *
  * Why XML and not just the Delimited dump ([[FsImageSource]]): Delimited
  * drops the REAL inode ids, `storagePolicyId`, EC policy,
  * under-construction and snapshot membership — so on a delimited-ingested
  * namespace, storage-type histograms, EC-aware replica grouping and the
  * UC/snapshot filters (reference semantics `VersionContext.java:176-199`,
  * `AbstractQueryEngine.java:268-347`) degenerate to a single bucket, and
  * synthetic 64-bit path-hash ids risk birthday collisions at billions of
  * inodes. The XML dump carries all of it.
  *
  * The catch: the XML has NO path column — inodes carry only (id, name),
  * and `<INodeDirectorySection>` carries parent→child id links. Paths are
  * reconstructed distributively: a per-level loop that joins the frontier
  * (directories whose path is known) against the child links — ≤ namespace
  * depth (~20) hash joins, each linear in that level's size, nothing
  * collected to the driver. (Pointer-doubling would halve the iterations
  * but squares the edge payload; HDFS trees are shallow, so per-level wins.)
  *
  * Spark 4's built-in XML datasource parses the dump partition-parallel
  * with an explicit schema (no inference scan). Sections are selected by
  * `rowTag`; `FileUnderConstructionSection` also uses `<inode>` tags, so
  * the inode read filters `type IS NOT NULL` to keep only real records.
  *
  * Format conventions (mirroring `PBImageXmlWriter` output):
  *   - `<permission>user:group:0755</permission>`; we keep the octal
  *     digits as decimal digits INCLUDING the special-bits digit
  *     (sticky `1777` → `1777`, matching the reference's
  *     `toOctalString(permShort)` rendering) — identical to the
  *     Delimited symbolic parse.
  *   - nsquota `9223372036854775807` (the unlimited sentinel) → −1 (unset).
  *   - EC files carry `<ecPolicyId>` and no `<replication>`.
  *   - `isWithSnapshot` = inode lies in the subtree (inclusive) of a
  *     `<snapshottableDir>` from `<SnapshotSection>`.
  */
object FsImageXmlSource {

  /** Serializes the maxPartitionBytes set/restore window in [[inodes]]. */
  private val confLock = new Object

  val QuotaUnlimited: Long = Long.MaxValue

  private val blockType = StructType(Seq(
    StructField("id", LongType), StructField("genstamp", LongType),
    StructField("numBytes", LongType)))

  /** Explicit `<inode>` schema (INodeSection). */
  val inodeSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("type", StringType),
    StructField("name", StringType),
    StructField("mtime", LongType),
    StructField("atime", LongType),
    StructField("preferredBlockSize", LongType),
    StructField("replication", LongType),
    StructField("permission", StringType),
    StructField("nsquota", LongType),
    StructField("dsquota", LongType),
    StructField("storagePolicyId", LongType),
    StructField("ecPolicyId", LongType),
    StructField("blocks", StructType(Seq(
      StructField("block", ArrayType(blockType))))),
    StructField("file-under-construction", StructType(Seq(
      StructField("clientName", StringType),
      StructField("clientMachine", StringType)))),
    StructField("acls", StructType(Seq(
      StructField("acl", ArrayType(StringType)))))))

  val dirLinkSchema: StructType = StructType(Seq(
    StructField("parent", LongType),
    StructField("child", ArrayType(LongType))))

  val snapSchema: StructType = StructType(Seq(StructField("dir", LongType)))

  private def readTag(spark: SparkSession, path: String, tag: String,
                      schema: StructType): DataFrame =
    spark.read.format("xml").option("rowTag", tag).schema(schema).load(path)

  /** Raw `<inode>` records (both FILE and DIRECTORY; UC-section stubs
    * filtered out by their missing `<type>`). */
  def readInodes(spark: SparkSession, path: String): DataFrame =
    readTag(spark, path, "inode", inodeSchema).where(col("type").isNotNull)

  /** parent→child links, one row per edge. */
  def readDirLinks(spark: SparkSession, path: String): DataFrame =
    readTag(spark, path, "directory", dirLinkSchema)
      .select(col("parent").as("parentId"), explode(col("child")).as("id"))

  /** Snapshottable-dir inode ids. */
  def readSnapshotRoots(spark: SparkSession, path: String): DataFrame =
    readTag(spark, path, "snapshottableDir", snapSchema)
      .select(col("dir").as("id"))

  /** (id, path, depth) for every reachable inode, reconstructed from the
    * directory links. Per-level loop: level d joins the edge table against
    * the level-(d−1) directories. Each level is localCheckpoint'ed — the
    * loop would otherwise stack d joins of lineage onto level d. */
  def resolvePaths(spark: SparkSession, inodes: DataFrame,
                   links: DataFrame): DataFrame = {
    // (id, name) is referenced by EVERY level's join: materialize it once
    // (narrow — two columns), or each level re-runs the upstream plan —
    // for a raw XML input that is a full re-parse of the image per level
    val named = inodes
      .select(col("id"), coalesce(col("name"), lit("")).as("name"))
      .localCheckpoint(true)
    val edges = links.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // root: the unparented DIRECTORY with the empty name (the NameNode
    // root's rendering). "Nobody's child" alone is NOT enough — a corrupt
    // or truncated image can contain orphan inodes with no parent link,
    // and they must drop out, not masquerade as extra roots.
    var frontier = named
      .join(inodes
          .where(col("type") === "DIRECTORY" &&
            (col("name").isNull || col("name") === ""))
          .select(col("id")),
        Seq("id"))
      .join(edges.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), lit("/").as("path"), lit(0L).as("depth"))
      .localCheckpoint(true)
    var resolved = frontier
    var depth = 1L
    var levelRows = frontier.count()
    while (levelRows > 0) {
      val next = edges
        .join(frontier.select(col("id").as("parentId"),
          col("path").as("__ppath")), Seq("parentId"))
        .join(named, Seq("id"))
        .select(col("id"),
          when(col("__ppath") === "/", concat(lit("/"), col("name")))
            .otherwise(concat(col("__ppath"), lit("/"), col("name"))).as("path"),
          lit(depth).as("depth"))
        .localCheckpoint(true)
      levelRows = next.count()
      if (levelRows > 0) resolved = resolved.unionAll(next)
      frontier = next
      depth += 1
    }
    edges.unpersist()
    resolved
  }

  /** Octal digits of "user:group:0755" as decimal digits, KEEPING the
    * special-bits digit — the reference renders
    * `Integer.toOctalString(permShort)` (`AbstractQueryEngine.java:193`),
    * so a sticky-bit dir is `1777`, a setuid file `4755`; the plain cast
    * drops a leading zero exactly like toOctalString ("0755" → 755). */
  private def permOctal(perm: Column): Column =
    substring_index(perm, ":", -1).cast("long")

  /** NORMALIZED raw-inode shape both fsimage front doors (XML parse,
    * binary decode) reduce to before the shared [[derive]]: blocks
    * pre-aggregated to (fileSize, numBlocks), feature messages reduced to
    * booleans, permission as the "user:group:0755" rendering. */
  val normSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("type", StringType),
    StructField("name", StringType), StructField("mtime", LongType),
    StructField("atime", LongType, nullable = true),
    StructField("preferredBlockSize", LongType, nullable = true),
    StructField("replication", LongType, nullable = true),
    StructField("permission", StringType),
    StructField("nsquota", LongType, nullable = true),
    StructField("dsquota", LongType, nullable = true),
    StructField("storagePolicyId", LongType, nullable = true),
    StructField("fileSize", LongType), StructField("numBlocks", LongType),
    StructField("isUC", BooleanType), StructField("hasAcl", BooleanType),
    StructField("hasEc", BooleanType),
    StructField("ecPolicyId", LongType, nullable = true)))

  /** XML `<inode>` records → [[normSchema]]. */
  private def normalize(raw: DataFrame): DataFrame =
    raw.select(
      col("id"), col("type"), col("name"), col("mtime"), col("atime"),
      col("preferredBlockSize"), col("replication"), col("permission"),
      col("nsquota"), col("dsquota"), col("storagePolicyId"),
      coalesce(aggregate(col("blocks.block"), lit(0L),
        (acc, b) => acc + b("numBytes")), lit(0L)).as("fileSize"),
      greatest(coalesce(size(col("blocks.block")).cast("long"), lit(0L)),
        lit(0L)).as("numBlocks"),
      col("`file-under-construction`").isNotNull.as("isUC"),
      col("acls").isNotNull.as("hasAcl"),
      col("ecPolicyId").isNotNull.as("hasEc"),
      col("ecPolicyId"))

  /** Ingest an XML dump into the full inodes schema. Plan shape: the
    * per-level path joins (≤ depth, linear each), then one projection for
    * scalar fields, one broadcast-ranged membership check for snapshot
    * subtrees, and the two shuffles of [[graft.inodes.InodeView.derive]]. */
  def inodes(spark: SparkSession, path: String): DataFrame = {
    // Parse the XML ONCE: the inode records feed the path loop, the field
    // projection, the quota-usage explode and the snapshot join — without
    // the checkpoint each of those re-parses the whole image text. The
    // checkpointed relation is O(namespace) like the snapshot it feeds.
    //
    // Split size: a single-file multi-GB image at the default 128 MB
    // `files.maxPartitionBytes` parses on a handful of cores (1 GB → 8
    // partitions on 32 threads). Lower it for the parse only — safe to
    // restore immediately because the checkpoints below are EAGER, so
    // the scans execute while the conf is set; the snapshot-roots read
    // is checkpointed too (tiny) or its lazy use in derive() would
    // re-parse the image at the restored width.
    // The override mutates SESSION state (no per-read knob exists for v1
    // file sources), so the set/restore window is serialized under a
    // process lock: two concurrent ingests would otherwise race the
    // restore and leave the session at 16 MB permanently. An unrelated
    // query planned DURING an ingest still sees 16 MB splits — benign
    // (more, smaller partitions), and bounded to the eager parse below.
    val key = "spark.sql.files.maxPartitionBytes"
    val (raw, links, snapRoots) = FsImageXmlSource.confLock.synchronized {
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, (16L * 1024 * 1024).toString)
      try {
        (normalize(readInodes(spark, path)).localCheckpoint(true),
          readDirLinks(spark, path).localCheckpoint(true),
          readSnapshotRoots(spark, path).localCheckpoint(true))
      } finally {
        prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      }
    }
    derive(spark, raw, links, snapRoots)
  }

  /** Shared assembly from a (checkpointed) [[normSchema]] relation +
    * parent→child links + snapshottable-root ids — both the XML parse and
    * the binary decode ([[FsImageBinary.inodes]]) land here, so the two
    * front doors are field-for-field identical by construction. Paths come
    * from the links; the stored columns from the normalized fields; the
    * rest from [[graft.inodes.InodeView.derive]]. */
  def derive(spark: SparkSession, raw: DataFrame, links: DataFrame,
             snapRootIds: DataFrame): DataFrame = {
    val paths = resolvePaths(spark, raw, links)

    val isFile = col("type") === "FILE"
    def quota(c: String) = when(isFile, -1L)
      .when(col(c) === QuotaUnlimited, -1L)
      .otherwise(coalesce(col(c), lit(-1L)))

    val base = raw.join(paths, Seq("id"))
      .select(
        col("id"),
        col("path"),
        isFile.as("isFile"),
        substring_index(col("permission"), ":", 1).as("user"),
        substring_index(substring_index(col("permission"), ":", 2), ":", -1)
          .as("group"),
        permOctal(col("permission")).as("permission"),
        coalesce(col("atime"), col("mtime")).as("accessTime"),
        col("mtime").as("modTime"),
        col("fileSize"),
        coalesce(col("preferredBlockSize"), lit(0L)).as("blockSize"),
        col("numBlocks"),
        coalesce(col("replication"), lit(0L)).as("fileReplica"),
        coalesce(col("storagePolicyId"), lit(0L)).as("storagePolicyId"),
        col("isUC").as("isUnderConstruction"),
        col("hasAcl"),
        col("hasEc").as("hasEcPolicy"),
        quota("nsquota").as("nsQuota"),
        quota("dsquota").as("dsQuota"),
        // extra full-fidelity column beyond the canonical schema: the
        // snapshot projection drops it, EC-name reports keep it
        coalesce(col("ecPolicyId"), lit(0L)).as("ecPolicyId"))

    // snapshot membership: snapshottable roots are FEW (admin-enabled);
    // resolve their paths and broadcast the prefix set
    val snapRoots = snapRootIds
      .join(paths, Seq("id")).select(col("path").as("__snapRoot"))
    graft.inodes.InodeView.derive(base
      .join(broadcast(snapRoots),
        col("path") === col("__snapRoot") ||
          col("path").startsWith(concat(col("__snapRoot"), lit("/"))),
        "left")
      .withColumn("isWithSnapshot", col("__snapRoot").isNotNull)
      .drop("__snapRoot"))
  }

  // ---------------------------------------------------------------------------
  // DuckDB mirror over the GROUND-TRUTH flat CSV (authored independently of
  // the XML by the same generator): paths are explicit there, so the oracle
  // checks the Spark side's id-link path reconstruction against authored
  // truth, plus every recovered field. `oivxml` is the final CTE.
  // ---------------------------------------------------------------------------
  def oracleCte(flatCsvPath: String): String = s"""
WITH flat AS (
  SELECT *,
    CASE WHEN path = '/' THEN NULL
         WHEN length(path) - length(replace(path, '/', '')) = 1 THEN '/'
         ELSE substr(path, 1, length(path) - length(regexp_extract(path, '[^/]*$$')) - 1)
    END AS parent
  FROM read_csv('$flatCsvPath', header=true, columns={
    'id':'BIGINT','path':'VARCHAR','is_file':'BOOLEAN','usr':'VARCHAR',
    'grp':'VARCHAR','perm':'BIGINT','mtime_ms':'BIGINT','atime_ms':'BIGINT',
    'block_size':'BIGINT','num_blocks':'BIGINT','file_size':'BIGINT',
    'replication':'BIGINT','storage_policy':'BIGINT','is_ec':'BOOLEAN',
    'is_uc':'BOOLEAN','has_acl':'BOOLEAN','ns_quota':'BIGINT',
    'ds_quota':'BIGINT','is_snap_root':'BOOLEAN','ec_policy':'BIGINT'})
), children AS (
  SELECT parent, COUNT(*) AS nchild
  FROM flat WHERE parent IS NOT NULL GROUP BY 1
), usage AS (
  SELECT q.path, COUNT(*) AS nsDesc,
    CAST(SUM(CASE WHEN d.is_file
      THEN d.file_size * GREATEST(d.replication, 1) ELSE 0 END) AS BIGINT)
      AS dsUsed
  FROM flat q JOIN flat d ON d.path LIKE q.path || '/%'
  WHERE NOT q.is_file AND (q.ns_quota >= 0 OR q.ds_quota >= 0)
  GROUP BY q.path
), oivxml AS (
  SELECT f.id, f.path,
    CASE WHEN f.path = '/' THEN '/' ELSE regexp_extract(f.path, '[^/]*$$') END AS name,
    f.parent,
    CASE WHEN f.path = '/' THEN 0
         ELSE length(f.path) - length(replace(f.path, '/', '')) END AS depth,
    f.is_file AS isFile, f.usr AS "user", f.grp AS "group",
    f.perm AS permission, f.atime_ms AS accessTime, f.mtime_ms AS modTime,
    f.file_size AS fileSize, f.block_size AS blockSize,
    f.num_blocks AS numBlocks, f.replication AS fileReplica,
    f.storage_policy AS storagePolicyId, f.is_uc AS isUnderConstruction,
    EXISTS (SELECT 1 FROM flat s WHERE s.is_snap_root
      AND (f.path = s.path OR f.path LIKE s.path || '/%')) AS isWithSnapshot,
    f.has_acl AS hasAcl, f.is_ec AS hasEcPolicy, f.ec_policy AS ec_policy,
    (NOT f.is_file AND (f.ns_quota >= 0 OR f.ds_quota >= 0)) AS hasQuota,
    f.ns_quota AS nsQuota, f.ds_quota AS dsQuota,
    CASE WHEN NOT f.is_file AND (f.ns_quota >= 0 OR f.ds_quota >= 0)
         THEN COALESCE(u.nsDesc, 0) + 1 ELSE 0 END AS nsQuotaUsed,
    CASE WHEN NOT f.is_file AND (f.ns_quota >= 0 OR f.ds_quota >= 0)
         THEN COALESCE(u.dsUsed, 0) ELSE 0 END AS dsQuotaUsed,
    CASE WHEN NOT f.is_file THEN COALESCE(c.nchild, 0) ELSE 0 END
      AS dirNumChildren
  FROM flat f
  LEFT JOIN children c ON c.parent = f.path
  LEFT JOIN usage u ON u.path = f.path
)
"""
}
