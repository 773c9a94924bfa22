package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.{Filters, Histograms, PathStructure}
import graft.ingest.FsImageSource
import graft.inodes.InodeView

/** Queries over a REAL namespace: the checked-in mini OIV delimited dump
  * (`fixtures/oiv_mini.tsv`, provenance in `tools/gen_oiv_fixture.py`),
  * ingested by [[FsImageSource]] through the same `InodeView.snapshot`
  * cache as the synthetic fixture (`oiv:` locator). Each query's oracle
  * runs DuckDB over the SAME dump file via [[FsImageSource.oracleCte]],
  * so the whole ingest derivation — permission octal, epoch times, depth/
  * parent split, quota usage from the tree — is hash-checked end-to-end.
  */
object IngestQueries {

  /** Checked-in mini dump (absolute: the driver's DuckDB runs from an
    * unknown cwd). */
  val DumpPath = "/root/repo/fixtures/oiv_mini.tsv"
  private val Locator = s"oiv:$DumpPath"

  private def inodes(s: SparkSession): DataFrame = InodeView.snapshot(s, Locator)
  private def files(s: SparkSession): DataFrame = inodes(s).where(col("isFile"))
  private def oracle(select: String): String = FsImageSource.oracleCte(DumpPath) + select

  /** Checked-in XML fsimage fixture + its authored flat ground truth
    * (provenance: `tools/gen_fsimage_xml.py`). */
  val XmlPath = "/root/repo/fixtures/fsimage_mini.xml"
  val XmlFlatPath = "/root/repo/fixtures/fsimage_mini_flat.csv"
  private val XmlLocator = s"oivxml:$XmlPath"

  private def xmlInodes(s: SparkSession): DataFrame =
    InodeView.snapshot(s, XmlLocator)
  private def xmlOracle(select: String): String =
    graft.ingest.FsImageXmlSource.oracleCte(XmlFlatPath) + select

  /** Checked-in BINARY fsimage twin of the XML fixture — same namespace,
    * same flat ground truth (provenance: `tools/gen_fsimage_bin.py`). */
  val BinPath = "/root/repo/fixtures/fsimage_mini.bin"
  private val BinLocator = s"oivbin:$BinPath"
  private def binInodes(s: SparkSession): DataFrame =
    InodeView.snapshot(s, BinLocator)

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // the ingest itself: per-user file census exercising permission parse,
    // time parse, size/replication arithmetic, ACL flag, depth derivation
    "nna_ingest_oiv" -> ((s, _) =>
      files(s).groupBy(col("user"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("fileSize")).as("bytes"),
          sum(col("fileSize") * col("fileReplica")).as("disk"),
          max(col("modTime")).as("last_mod"),
          min(col("accessTime")).as("first_access"),
          sum(col("permission")).as("perm_sum"),
          sum(when(col("hasAcl"), 1L).otherwise(0L)).as("acl_cnt"),
          sum(col("depth")).as("depth_sum"))),

    // dir side: children counts and tree shape per depth
    "nna_ingest_dirs" -> ((s, _) =>
      inodes(s).where(!col("isFile"))
        .groupBy(col("depth"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("dirNumChildren")).as("children"),
          sum(when(col("hasQuota"), 1L).otherwise(0L)).as("quota_dirs"))),

    // quota usage recomputed from the tree (dump carries no usage columns):
    // the depth-1 quota dir has files only at depth ≥4 → a true
    // deep-ancestor aggregation, checked against a prefix-join oracle
    "nna_ingest_quota" -> ((s, _) =>
      inodes(s).where(col("hasQuota"))
        .select(col("path"), col("nsQuota"), col("dsQuota"),
          col("nsQuotaUsed"), col("dsQuotaUsed"))),

    // existing operators compose unchanged over the ingested frame:
    // the histogram engine keyed on user
    "nna_ingest_histogram" -> ((s, _) =>
      Histograms.histogram(files(s), col("user"), count(lit(1)))),

    // ... the predicate compiler (octal permission + string + size ops) ...
    "nna_ingest_filter" -> ((s, _) =>
      files(s)
        .where(Filters.compileAll(
          "permission:eq:644,name:endsWith:.parquet,fileSize:gt:0", "files"))
        .agg(count(lit(1)).as("cnt"), sum(col("fileSize")).as("bytes"))),

    // ... and the quota-ancestry walk (files under the depth-1 ns-quota
    // dir sit 3 levels below it — ancestor explode, not parent lookup)
    "nna_ingest_under_quota" -> ((s, _) =>
      PathStructure.underQuota(inodes(s), "nsQuota")
        .where(col("isFile"))
        .agg(count(lit(1)).as("cnt"), sum(col("fileSize")).as("bytes"))),

    // ---- XML (full-fidelity) ingestion: fixtures/fsimage_mini.xml ----
    // The XML dump has NO paths — only (id, name) + parent→child id links —
    // so these queries hash-check the distributed path reconstruction and
    // every field the Delimited format drops (real ids, storage policy,
    // EC, under-construction, snapshot membership).

    // census pinning the reconstruction: per-depth counts, REAL id sums,
    // block-sum file sizes, and a portable 60-bit hash over every path
    "nna_ingest_xml_census" -> ((s, _) =>
      xmlInodes(s).groupBy(col("depth"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(when(col("isFile"), 1L).otherwise(0L)).as("n_files"),
          sum(col("id")).as("id_sum"),
          sum(col("fileSize")).as("bytes"),
          sum(col("numBlocks")).as("blocks"),
          sum(col("permission")).as("perm_sum"),
          sum(graft.pipeline.Dedup.portableHash(col("path")) % graft.pipeline.Dedup.HashP).as("path_hash_sum"))),

    // K6 storage-policy histogram — the field the delimited dump loses
    "nna_ingest_xml_storage" -> ((s, _) =>
      Histograms.histogram(
        xmlInodes(s).where(col("isFile")),
        graft.engine.Fields.stringField("storageType"), count(lit(1)))),

    // EC / under-construction / snapshot-membership recovery, plus the
    // EC-aware replica key (K5 with Hadoop-3 semantics: EC files group
    // under "EC", not their meaningless replication factor)
    "nna_ingest_xml_ec_uc" -> ((s, _) =>
      Histograms.histogram(
        xmlInodes(s).where(col("isFile")),
        Histograms.replicaKey(ecAware = true), count(lit(1)))),

    // replica histogram with EC files grouped by POLICY NAME (the
    // reference's rendering, VersionContext.java:206-219) — possible on
    // ingested namespaces because full-fidelity ingest recovers ecPolicyId
    "nna_ingest_xml_replica_ec" -> ((s, _) =>
      Histograms.histogram(
        graft.ingest.FsImageXmlSource.inodes(s, XmlPath)
          .where(col("isFile")),
        Histograms.replicaEcNameKey(col("ecPolicyId")), count(lit(1)))),

    "nna_ingest_xml_flags" -> ((s, _) =>
      xmlInodes(s).agg(
        sum(when(col("hasEcPolicy"), 1L).otherwise(0L)).as("n_ec"),
        sum(when(col("isUnderConstruction"), 1L).otherwise(0L)).as("n_uc"),
        sum(when(col("isWithSnapshot"), 1L).otherwise(0L)).as("n_snap"),
        sum(when(col("hasAcl"), 1L).otherwise(0L)).as("n_acl"),
        max(col("id")).as("max_id"),
        countDistinct(col("id")).as("distinct_ids"))),

    // quota usage over the reconstructed tree: composition of path
    // rebuild + ancestor aggregation
    "nna_ingest_xml_quota" -> ((s, _) =>
      xmlInodes(s).where(col("hasQuota"))
        .select(col("path"), col("nsQuota"), col("dsQuota"),
          col("nsQuotaUsed"), col("dsQuotaUsed"), col("dirNumChildren"))),

    // the BINARY fsimage front door (`oivbin:` — no oiv preprocessing):
    // protobuf container decode + string-table permission unpack + block
    // aggregation + the same distributed path/quota/snapshot derivation,
    // hash-checked against the same authored ground truth as the XML path
    "nna_ingest_bin_census" -> ((s, _) =>
      binInodes(s).groupBy(col("depth"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(when(col("isFile"), 1L).otherwise(0L)).as("n_files"),
          sum(col("id")).as("id_sum"),
          sum(col("fileSize")).as("bytes"),
          sum(col("numBlocks")).as("blocks"),
          sum(col("permission")).as("perm_sum"),
          sum(graft.pipeline.Dedup.portableHash(col("path")) % graft.pipeline.Dedup.HashP).as("path_hash_sum"))),

    // flag recovery through the binary decode: EC / UC / snapshot / ACL
    // bits plus real-id integrity (the delimited dump loses all of these)
    "nna_ingest_bin_flags" -> ((s, _) =>
      binInodes(s).agg(
        sum(when(col("hasEcPolicy"), 1L).otherwise(0L)).as("n_ec"),
        sum(when(col("isUnderConstruction"), 1L).otherwise(0L)).as("n_uc"),
        sum(when(col("isWithSnapshot"), 1L).otherwise(0L)).as("n_snap"),
        sum(when(col("hasAcl"), 1L).otherwise(0L)).as("n_acl"),
        max(col("id")).as("max_id"),
        countDistinct(col("id")).as("distinct_ids"))),

    // special-bits permission parity (setuid/setgid/sticky): the
    // reference renders toOctalString(permShort)
    // (AbstractQueryEngine.java:193) so a sticky dir is 1777 — both the
    // XML and binary doors must carry the 4-digit form; the fixture
    // plants 1777 (/tmp), 2775 (/user/shared) and 4755 files
    "nna_ingest_special_perms" -> ((s, _) =>
      xmlInodes(s).where(col("permission") >= 1000)
        .select(lit("xml").as("door"), col("path"), col("permission"))
        .unionAll(binInodes(s).where(col("permission") >= 1000)
          .select(lit("bin").as("door"), col("path"), col("permission")))),

    // edit-log parse (`hdfs oev -p XML` rendering): per-opcode census of
    // the typed ops frame — txid range + finalized bytes, oracle-checked
    // against the authored ops table
    "nna_editlog_ops" -> ((s, _) =>
      graft.ingest.EditLogSource.ops(s, EditLogPath)
        .groupBy(col("opcode"))
        .agg(count(lit(1)).as("n"),
          min(col("txid")).as("txid_min"),
          max(col("txid")).as("txid_max"),
          sum(coalesce(col("fileSize"), lit(0L))).as("bytes"))),

    // edit-log REPLAY onto the XML-ingested namespace: the S4
    // between-snapshot freshness analog. The engine applies the segment
    // distributed (chunked latest-wins merges + prefix-projection
    // renames/deletes); the oracle is the INDEPENDENT sequential replay
    // (tools/gen_editlog.py) a namenode would perform, row-for-row over
    // all 26 columns, derived ones included —
    // distributed-chunked ≡ sequential is exactly the claim being checked
    "nna_editlog_apply" -> ((s, _) =>
      graft.ingest.EditLogSource.applyEdits(
        xmlInodes(s), graft.ingest.EditLogSource.ops(s, EditLogPath))))

  /** Checked-in edit-log segment fixture + its authored op table and
    * sequential-replay post-state (provenance: `tools/gen_editlog.py`). */
  val EditLogPath = "/root/repo/fixtures/editlog_mini.xml"
  val EditLogOpsCsv = "/root/repo/fixtures/editlog_mini_ops.csv"
  val EditLogPostCsv = "/root/repo/fixtures/editlog_mini_post.csv"

  private def editOpsOracle(select: String): String = s"""
WITH eops AS (
  SELECT * FROM read_csv('$EditLogOpsCsv', header=true, columns={
    'txid':'BIGINT','opcode':'VARCHAR','path':'VARCHAR','inode_id':'BIGINT',
    'dst':'VARCHAR','usr':'VARCHAR','grp':'VARCHAR','perm':'BIGINT',
    'mtime_ms':'BIGINT','atime_ms':'BIGINT','replication':'BIGINT',
    'block_size':'BIGINT','file_size':'BIGINT','num_blocks':'BIGINT',
    'ns_quota':'BIGINT','ds_quota':'BIGINT','policy_id':'BIGINT',
    'new_length':'BIGINT','srcs':'VARCHAR','overwrite':'BOOLEAN'})
)
""" + select

  val oracleSql: Map[String, String] = Map(
    "nna_editlog_ops" -> editOpsOracle("""
      SELECT opcode, COUNT(*) AS n, MIN(txid) AS txid_min,
        MAX(txid) AS txid_max,
        CAST(SUM(CASE WHEN file_size >= 0 THEN file_size ELSE 0 END)
          AS BIGINT) AS bytes
      FROM eops GROUP BY opcode"""),

    "nna_editlog_apply" ->
      (graft.ingest.FsImageXmlSource.oracleCte(EditLogPostCsv) + """
      SELECT id, path, name, parent, CAST(depth AS BIGINT) AS depth, isFile, "user", "group", permission,
        accessTime, modTime, fileSize, blockSize, numBlocks, fileReplica,
        storagePolicyId, isUnderConstruction, isWithSnapshot, hasAcl,
        hasEcPolicy, hasQuota, nsQuota, dsQuota, nsQuotaUsed, dsQuotaUsed,
        dirNumChildren
      FROM oivxml"""),
    "nna_ingest_oiv" -> oracle("""
      SELECT "user", COUNT(*) AS cnt,
        CAST(SUM(fileSize) AS BIGINT) AS bytes,
        CAST(SUM(fileSize * fileReplica) AS BIGINT) AS disk,
        MAX(modTime) AS last_mod,
        MIN(accessTime) AS first_access,
        CAST(SUM(permission) AS BIGINT) AS perm_sum,
        CAST(SUM(CASE WHEN hasAcl THEN 1 ELSE 0 END) AS BIGINT) AS acl_cnt,
        CAST(SUM(depth) AS BIGINT) AS depth_sum
      FROM oiv WHERE isFile GROUP BY "user""""),

    "nna_ingest_dirs" -> oracle("""
      SELECT depth, COUNT(*) AS cnt,
        CAST(SUM(dirNumChildren) AS BIGINT) AS children,
        CAST(SUM(CASE WHEN hasQuota THEN 1 ELSE 0 END) AS BIGINT) AS quota_dirs
      FROM oiv WHERE NOT isFile GROUP BY depth"""),

    "nna_ingest_quota" -> oracle("""
      SELECT path, nsQuota, dsQuota, nsQuotaUsed, dsQuotaUsed
      FROM oiv WHERE hasQuota"""),

    "nna_ingest_histogram" -> oracle("""
      SELECT "user" AS key, COUNT(*) AS value
      FROM oiv WHERE isFile GROUP BY "user""""),

    "nna_ingest_filter" -> oracle("""
      SELECT COUNT(*) AS cnt, CAST(SUM(fileSize) AS BIGINT) AS bytes
      FROM oiv
      WHERE isFile AND permission = 644
        AND ends_with(name, '.parquet') AND fileSize > 0"""),

    "nna_ingest_under_quota" -> oracle("""
      SELECT COUNT(*) AS cnt, CAST(SUM(f.fileSize) AS BIGINT) AS bytes
      FROM oiv f
      WHERE f.isFile AND EXISTS (
        SELECT 1 FROM oiv q
        WHERE NOT q.isFile AND q.nsQuota >= 0 AND q.path <> '/'
          AND f.path LIKE q.path || '/%')"""),

    "nna_ingest_xml_census" -> xmlOracle("""
      SELECT depth, COUNT(*) AS cnt,
        CAST(SUM(CASE WHEN isFile THEN 1 ELSE 0 END) AS BIGINT) AS n_files,
        CAST(SUM(id) AS BIGINT) AS id_sum,
        CAST(SUM(fileSize) AS BIGINT) AS bytes,
        CAST(SUM(numBlocks) AS BIGINT) AS blocks,
        CAST(SUM(permission) AS BIGINT) AS perm_sum,
        CAST(SUM(('0x' || substr(md5(path), 1, 15))::BIGINT % 2147483647) AS BIGINT)
          AS path_hash_sum
      FROM oivxml GROUP BY depth"""),

    "nna_ingest_xml_storage" -> xmlOracle("""
      SELECT CASE storagePolicyId WHEN 15 THEN 'LAZY_PERSIST'
        WHEN 12 THEN 'ALL_SSD' WHEN 10 THEN 'ONE_SSD' WHEN 7 THEN 'HOT'
        WHEN 5 THEN 'WARM' WHEN 2 THEN 'COLD' WHEN 1 THEN 'PROVIDED'
        ELSE 'NO_MAPPING' END AS key, COUNT(*) AS value
      FROM oivxml WHERE isFile GROUP BY 1"""),

    "nna_ingest_xml_ec_uc" -> xmlOracle("""
      SELECT CASE WHEN hasEcPolicy THEN 'EC'
        ELSE CAST(fileReplica AS VARCHAR) END AS key, COUNT(*) AS value
      FROM oivxml WHERE isFile GROUP BY 1"""),

    "nna_ingest_xml_replica_ec" -> xmlOracle("""
      SELECT CASE WHEN hasEcPolicy THEN
          CASE ec_policy WHEN 1 THEN 'RS-6-3-1024k'
            WHEN 2 THEN 'RS-3-2-1024k' WHEN 3 THEN 'RS-LEGACY-6-3-1024k'
            WHEN 4 THEN 'XOR-2-1-1024k' WHEN 5 THEN 'RS-10-4-1024k'
            ELSE 'EC-' || CAST(ec_policy AS VARCHAR) END
        ELSE CAST(fileReplica AS VARCHAR) END AS key, COUNT(*) AS value
      FROM oivxml WHERE isFile GROUP BY 1"""),

    "nna_ingest_xml_flags" -> xmlOracle("""
      SELECT
        CAST(SUM(CASE WHEN hasEcPolicy THEN 1 ELSE 0 END) AS BIGINT) AS n_ec,
        CAST(SUM(CASE WHEN isUnderConstruction THEN 1 ELSE 0 END) AS BIGINT) AS n_uc,
        CAST(SUM(CASE WHEN isWithSnapshot THEN 1 ELSE 0 END) AS BIGINT) AS n_snap,
        CAST(SUM(CASE WHEN hasAcl THEN 1 ELSE 0 END) AS BIGINT) AS n_acl,
        MAX(id) AS max_id,
        CAST(COUNT(DISTINCT id) AS BIGINT) AS distinct_ids
      FROM oivxml"""),

    "nna_ingest_xml_quota" -> xmlOracle("""
      SELECT path, nsQuota, dsQuota, nsQuotaUsed, dsQuotaUsed, dirNumChildren
      FROM oivxml WHERE hasQuota"""),

    // binary front door: same ground truth, so the oracles are the same
    // relations — a hash match proves XML-parse ≡ binary-decode
    "nna_ingest_bin_census" -> xmlOracle("""
      SELECT depth, COUNT(*) AS cnt,
        CAST(SUM(CASE WHEN isFile THEN 1 ELSE 0 END) AS BIGINT) AS n_files,
        CAST(SUM(id) AS BIGINT) AS id_sum,
        CAST(SUM(fileSize) AS BIGINT) AS bytes,
        CAST(SUM(numBlocks) AS BIGINT) AS blocks,
        CAST(SUM(permission) AS BIGINT) AS perm_sum,
        CAST(SUM(('0x' || substr(md5(path), 1, 15))::BIGINT % 2147483647) AS BIGINT)
          AS path_hash_sum
      FROM oivxml GROUP BY depth"""),

    "nna_ingest_special_perms" -> xmlOracle("""
      SELECT 'xml' AS door, path, permission FROM oivxml
      WHERE permission >= 1000
      UNION ALL
      SELECT 'bin' AS door, path, permission FROM oivxml
      WHERE permission >= 1000"""),

    "nna_ingest_bin_flags" -> xmlOracle("""
      SELECT
        CAST(SUM(CASE WHEN hasEcPolicy THEN 1 ELSE 0 END) AS BIGINT) AS n_ec,
        CAST(SUM(CASE WHEN isUnderConstruction THEN 1 ELSE 0 END) AS BIGINT) AS n_uc,
        CAST(SUM(CASE WHEN isWithSnapshot THEN 1 ELSE 0 END) AS BIGINT) AS n_snap,
        CAST(SUM(CASE WHEN hasAcl THEN 1 ELSE 0 END) AS BIGINT) AS n_acl,
        MAX(id) AS max_id,
        CAST(COUNT(DISTINCT id) AS BIGINT) AS distinct_ids
      FROM oivxml"""))
}
