package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Edit-log ingestion — the S4 between-snapshot freshness surface.
  *
  * The reference keeps its namespace current by tailing the namenode's
  * edit log between fsimage fetches (`NameNodeLoader.java:382-390`,
  * `EditLogTailer`); an image is minutes-to-hours stale the moment it is
  * written, and every "who just filled the cluster" question lives in
  * that gap. The Spark-native analog ingests the PUBLIC text rendering of
  * an edit segment (`hdfs oev -p XML`, Hadoop's `XmlEditsVisitor` /
  * `FSEditLogOp`): [[ops]] parses the `<RECORD>` stream into a typed ops
  * frame, and [[applyEdits]] replays it onto an inode snapshot.
  *
  * DISTRIBUTED APPLY, not row-at-a-time replay: a namenode applies edits
  * sequentially against its heap tree; at 1e9 inodes the Spark version
  * must not. The insight is that only STRUCTURAL ops (rename/delete) are
  * order-sensitive against the bulk — they move or remove whole subtrees
  * by path prefix, changing the identity later creations bind to — while
  * everything between two structural ops commutes into one latest-wins
  * merge. So:
  *
  *   1. collect ONLY the structural ops (control-plane-rare: a segment
  *      between checkpoints carries a bounded handful; the collect is a
  *      few (txid, src, dst) triples, never namespace-sized);
  *   2. split the op stream into chunks at structural txids;
  *   3. each chunk = ONE latest-wins merge of creations (MKDIR/ADD/CLOSE
  *      rows built whole) + ONE attribute-patch join (SET_REPLICATION /
  *      SET_PERMISSIONS / SET_OWNER / TIMES / SET_QUOTA coalesce onto
  *      the current row, latest txid per attribute);
  *   4. each structural op itself is a pure narrow projection / filter
  *      (prefix rewrite for rename, prefix drop for delete) — no shuffle,
  *      no explode, linear in the snapshot.
  *
  * k structural ops ⇒ k+1 chunk merges; the common segment (k = 0..2)
  * costs 1-3 id-keyed shuffles total regardless of namespace size. A
  * MEGA-segment (a bulk re-organization: thousands of renames, e.g. a
  * Hive-partition migration) is bounded too: empty chunks are detected
  * up front in one O(n log k) pass ([[chunkCounts]]) and skip their
  * merge entirely, and consecutive renames COMPOSE driver-side
  * ([[composeRename]]) into one first-match-wins rule list flushed as a
  * single flat-CaseWhen projection — a 1000-rename chain is ONE pass
  * over the namespace, one plan node. Segments that interleave renames
  * with deletes/bulk chunks flush more often; their lineage is cut by
  * `localCheckpoint` every `spark.graft.editlog.checkpointEveryOps`
  * (default 64) flushes, so plan depth is bounded independent of
  * segment hygiene.
  *
  * Scope (both the engine and the sequential-replay oracle in
  * `tools/gen_editlog.py` implement exactly this): OP_ADD is
  * create/overwrite — a new inode at the path (the dedicated OP_APPEND
  * opcode models reopen: uc=true, blocks kept). OP_TRUNCATE sets the new
  * length + mtime (block count untouched). OP_TIMES honors the −1 =
  * unchanged sentinel. OP_SET_QUOTA applies both values as given (−1
  * clears). Parent-directory mtime side-effects of create/rename/delete
  * are not propagated (neither tracks them per-inode). `hasAcl` and
  * `hasEcPolicy` ride along as stored attributes of the inode: no ACL or
  * erasure-coding op is modeled, so a creation sets both false.
  * `isWithSnapshot` follows the tree, as on the XML door: the top-most
  * flagged directories of the input are taken as the snapshottable roots
  * (they keep their identity through renames; no snapshot op is modeled,
  * so the set never grows), and after the replay every inode below one is
  * flagged — a creation under a snapshottable directory included, a
  * rename out of one cleared. A flagged inode outside those directories
  * (a flagged file in an unflagged directory) keeps its flag as a stored
  * attribute; a creation is never flagged on its own. The derived
  * columns (name, parent, depth, hasQuota, child count, quota usage) are
  * recomputed from the replayed tree by [[graft.inodes.InodeView.derive]].
  */
object EditLogSource {

  val Structural: Seq[String] =
    Seq("OP_RENAME", "OP_RENAME_OLD", "OP_DELETE", "OP_CONCAT_DELETE")
  val Creations: Seq[String] = Seq("OP_MKDIR", "OP_ADD")
  val Patches: Seq[String] = Seq("OP_CLOSE", "OP_SET_REPLICATION",
    "OP_SET_PERMISSIONS", "OP_SET_OWNER", "OP_TIMES", "OP_SET_QUOTA",
    "OP_SET_STORAGE_POLICY", "OP_TRUNCATE", "OP_APPEND")

  private val blockType = StructType(Seq(
    StructField("BLOCK_ID", LongType), StructField("NUM_BYTES", LongType),
    StructField("GENSTAMP", LongType)))

  private val permType = StructType(Seq(
    StructField("USERNAME", StringType), StructField("GROUPNAME", StringType),
    StructField("MODE", LongType)))

  /** Explicit `<RECORD>` schema — the superset of the fields the modeled
    * ops carry (unknown ops parse too; their extra fields are just null). */
  val recordSchema: StructType = StructType(Seq(
    StructField("OPCODE", StringType),
    StructField("DATA", StructType(Seq(
      StructField("TXID", LongType),
      StructField("INODEID", LongType),
      StructField("PATH", StringType),
      StructField("SRC", StringType),
      StructField("DST", StringType),
      StructField("REPLICATION", LongType),
      StructField("MTIME", LongType),
      StructField("ATIME", LongType),
      StructField("TIMESTAMP", LongType),
      StructField("BLOCKSIZE", LongType),
      StructField("OVERWRITE", BooleanType),
      StructField("MODE", LongType),
      StructField("USERNAME", StringType),
      StructField("GROUPNAME", StringType),
      StructField("NSQUOTA", LongType),
      StructField("DSQUOTA", LongType),
      StructField("POLICYID", LongType),
      StructField("NEWLENGTH", LongType),
      StructField("TRG", StringType),
      // OP_CONCAT_DELETE writes numbered <SOURCE1>..<SOURCEn> children
      // inside <SOURCES> (FSEditLogOp.ConcatDeleteOp.toXml); a fixed
      // schema models the first 8 — [[typedOps]] fails loudly past that
      StructField("SOURCES", StructType((1 to 8).map(i =>
        StructField(s"SOURCE$i", StringType)))),
      StructField("BLOCK", ArrayType(blockType)),
      StructField("PERMISSION_STATUS", permType))))))

  /** Decimal-of-octal mode (OEV `<MODE>493</MODE>` = 0755) → the engine's
    * permission convention: octal digits kept as decimal digits
    * INCLUDING the special-bits digit (0o1777=1023 → 1777), matching the
    * reference's `toOctalString(permShort)` rendering. Pure arithmetic,
    * stays in codegen. */
  private def octalTriad(mode: org.apache.spark.sql.Column) =
    (mode % 8) + (floor(mode / 8) % 8) * 10 + (floor(mode / 64) % 8) * 100 +
      (floor(mode / 512) % 8) * 1000

  /** Parse an OEV XML segment into the typed ops frame: one row per
    * RECORD — (txid, opcode, path, dst, inodeId, user, group, permission,
    * replication, mtime, atime, blockSize, fileSize, numBlocks, nsQuota,
    * dsQuota, overwrite). Partition-parallel via Spark's XML source with
    * an explicit schema (no inference scan). */
  def ops(spark: SparkSession, xmlPath: String): DataFrame =
    typedOps(spark.read.format("xml")
      .option("rowTag", "RECORD")
      .schema(recordSchema)
      .load(xmlPath))

  /** The RECORD→typed-ops projection, shared by the batch reader and the
    * streaming tail. */
  def typedOps(records: DataFrame): DataFrame =
    records.select(
        col("DATA.TXID").as("txid"),
        col("OPCODE").as("opcode"),
        coalesce(col("DATA.PATH"), col("DATA.SRC"), col("DATA.TRG"),
          lit("")).as("path"),
        coalesce(col("DATA.DST"), lit("")).as("dst"),
        when(col("OPCODE") === "OP_CONCAT_DELETE",
          array_compact(array((1 to 8).map(i =>
            col(s"DATA.SOURCES.SOURCE$i")): _*)))
          .otherwise(lit(null).cast(ArrayType(StringType))).as("srcs"),
        coalesce(col("DATA.INODEID"), lit(0L)).as("inodeId"),
        col("DATA.PERMISSION_STATUS.USERNAME").as("opUser"),
        col("DATA.PERMISSION_STATUS.GROUPNAME").as("opGroup"),
        col("DATA.USERNAME").as("setUser"),
        col("DATA.GROUPNAME").as("setGroup"),
        when(col("DATA.PERMISSION_STATUS.MODE").isNotNull,
          octalTriad(col("DATA.PERMISSION_STATUS.MODE")))
          .when(col("DATA.MODE").isNotNull, octalTriad(col("DATA.MODE")))
          .as("permission"),
        col("DATA.REPLICATION").as("replication"),
        coalesce(col("DATA.MTIME"), col("DATA.TIMESTAMP")).as("mtime"),
        col("DATA.ATIME").as("atime"),
        col("DATA.BLOCKSIZE").as("blockSize"),
        when(col("DATA.BLOCK").isNotNull, aggregate(col("DATA.BLOCK"),
          lit(0L), (acc, b) => acc + b.getField("NUM_BYTES")))
          .as("fileSize"),
        when(col("DATA.BLOCK").isNotNull, size(col("DATA.BLOCK")).cast(LongType))
          .as("numBlocks"),
        col("DATA.NSQUOTA").as("nsQuota"),
        col("DATA.DSQUOTA").as("dsQuota"),
        col("DATA.POLICYID").as("policyId"),
        col("DATA.NEWLENGTH").as("newLength"),
        coalesce(col("DATA.OVERWRITE"), lit(false)).as("overwrite"))

  /** Replay a parsed ops frame onto a snapshot (any frame carrying the
    * [[graft.inodes.InodeView.stored]] columns —
    * [[graft.inodes.InodeView.columns]] qualifies). The replay maintains
    * the stored columns; the post-edit namespace then goes through
    * [[graft.inodes.InodeView.derive]] once, so it has the exact
    * [[graft.inodes.InodeView.columns]] schema of an ingested image. See
    * the class doc for the chunked-apply shape and scope. */
  def applyEdits(snapshot: DataFrame, rawOps: DataFrame): DataFrame = {
    // normalize the structural-payload columns a caller-built ops frame
    // may lack (parse() always emits them; a frame carrying only
    // rename/delete payloads — or none — is legitimate input): missing
    // `dst`/`srcs` become typed nulls instead of an UNRESOLVED_COLUMN
    // error three selects later
    val ops = Seq(
      "dst" -> StringType.asInstanceOf[org.apache.spark.sql.types.DataType],
      "srcs" -> ArrayType(StringType)).foldLeft(rawOps) {
      case (df, (c, t)) =>
        if (df.columns.contains(c)) df
        else df.withColumn(c, lit(null).cast(t))
    }
    // bounded collect: structural ops only — see class doc
    val structural = ops
      .where(col("opcode").isin(Structural: _*))
      .select("txid", "opcode", "path", "dst", "srcs", "mtime")
      .orderBy("txid").collect()

    // chunk occupancy in ONE pass: which of the k+1 inter-structural
    // chunks actually carry bulk ops. A mega-segment (a Hive-partition
    // migration is thousands of renames back-to-back) has almost every
    // chunk empty — skipping its applyBulk skips two namespace-wide
    // joins per structural op, turning the replay from O(k·|namespace|)
    // shuffles into O(k) narrow projections + the occupied chunks.
    val occupied: Set[Int] =
      if (structural.isEmpty) Set(0)
      else chunkCounts(ops, structural.map(_.getLong(0)))

    // the structural replay is inherently sequential, but consecutive
    // RENAMES need not each become a plan node: prefix rewrites compose
    // driver-side ([[composeRename]]) into one first-match-wins rule
    // list, flushed as a SINGLE flat CaseWhen projection only when a
    // later op must see current paths (an occupied bulk chunk, a
    // delete/concat, or end-of-segment). A 1000-rename mega-segment is
    // thus ONE projection, not a 1000-deep lineage — stacking per-op
    // projections instead lets the optimizer inline each 3-reference
    // rename expression into the next (exponential tree, driver OOM).
    // Flush-heavy segments (renames interleaved with deletes/bulk ops)
    // still cut lineage every `ckptEvery` flushes.
    val ckptEvery = snapshot.sparkSession.conf
      .getOption("spark.graft.editlog.checkpointEveryOps")
      .map(_.toInt).getOrElse(64)
    require(ckptEvery > 0, "spark.graft.editlog.checkpointEveryOps must be > 0")

    // isWithSnapshot follows the tree. The replay carries the flag only
    // on the roots of the flagged subtrees (the top-most flagged
    // directories, and any flagged inode outside them) and flags their
    // subtrees again at the end, so a creation under a snapshottable
    // directory and a rename into or out of one come out right
    val snapDirs = snapshotRoots(snapshot)
    var cur = snapshot.select(graft.inodes.InodeView.stored.map {
      case "isWithSnapshot" =>
        (col("isWithSnapshot") && !strictlyUnder(snapDirs)).as("isWithSnapshot")
      case c => col(c)
    }: _*)
    var lo = Long.MinValue
    var chunk = 0
    var sinceCkpt = 0
    var pending = Vector.empty[(String, String)]
    def bump(): Unit = {
      sinceCkpt += 1
      if (sinceCkpt >= ckptEvery) {
        cur = cur.localCheckpoint(eager = true)
        sinceCkpt = 0
      }
    }
    def flushRenames(): Unit = if (pending.nonEmpty) {
      cur = cur.withColumn("path", renameExpr(pending))
      pending = Vector.empty
      bump()
    }
    for (s <- structural) {
      val hi = s.getLong(0)
      if (occupied(chunk)) {
        flushRenames()
        cur = applyBulk(cur, ops.where(col("txid") > lo && col("txid") < hi))
        bump()
      }
      chunk += 1
      val src = s.getString(2)
      s.getString(1) match {
        case "OP_DELETE" =>
          flushRenames()
          cur = cur.where(!(col("path") === src ||
            col("path").startsWith(src + "/")))
          bump()
        case "OP_CONCAT_DELETE" =>
          flushRenames()
          // trg absorbs the sources' CURRENT sizes — state-dependent, so
          // the sums resolve EAGERLY (two scalars over the |srcs| rows
          // the scan prunes to) — same control-plane cost class as the
          // structural collect itself, and the concat then stays a pure
          // projection like rename/delete instead of a degenerate join
          val srcs = s.getSeq[String](4)
          require(srcs != null && srcs.nonEmpty,
            s"OP_CONCAT_DELETE at txid $hi carries no sources " +
              "(more than 8? extend the SOURCES schema)")
          val r = cur.where(col("path").isin(srcs: _*)).agg(
            coalesce(sum("fileSize"), lit(0L)),
            coalesce(sum("numBlocks"), lit(0L))).head
          val (catBytes, catBlocks) = (r.getLong(0), r.getLong(1))
          cur = cur.where(!col("path").isin(srcs: _*))
            .withColumn("fileSize", when(col("path") === src,
              col("fileSize") + catBytes).otherwise(col("fileSize")))
            .withColumn("numBlocks", when(col("path") === src,
              col("numBlocks") + catBlocks).otherwise(col("numBlocks")))
            .withColumn("modTime", when(col("path") === src,
              lit(s.getLong(5))).otherwise(col("modTime")))
          bump()
        case _ => // rename: compose into the pending rule list, no plan node
          pending = composeRename(pending, src, s.getString(3))
      }
      lo = hi
    }
    flushRenames()
    if (occupied(chunk))
      cur = applyBulk(cur, ops.where(col("txid") > lo))
    // derive reads the replayed rows three times (the rows, the child
    // counts, the quota usage): replay the chunks once, and keep the
    // plan one replay deep
    val replayed = cur.localCheckpoint(eager = true)
    val movedDirs =
      if (snapDirs.isEmpty) Nil
      else replayed.where(col("isWithSnapshot") && !col("isFile"))
        .select(col("path")).collect().map(_.getString(0)).toSeq
    graft.inodes.InodeView.derive(replayed.withColumn("isWithSnapshot",
      col("isWithSnapshot") || strictlyUnder(movedDirs)))
  }

  /** Paths of the top-most snapshot-flagged directories (a flagged
    * directory whose parent is not flagged): the snapshottable roots, one
    * per directory an administrator enabled, so the collect is small. */
  private def snapshotRoots(snapshot: DataFrame): Seq[String] = {
    val dirs = snapshot.where(col("isWithSnapshot") && !col("isFile"))
      .select(col("path"))
    dirs.join(dirs.select(col("path").as("__dir")),
        graft.inodes.InodeView.parentOf(col("path")) === col("__dir"),
        "left_anti")
      .collect().map(_.getString(0)).toSeq
  }

  /** `path` lies strictly below one of `dirs`. */
  private def strictlyUnder(dirs: Seq[String]): Column =
    dirs.map(d => col("path") =!= d &&
        col("path").startsWith(if (d == "/") "/" else d + "/"))
      .foldLeft(lit(false))(_ || _)

  /** Tail a directory of OEV-XML edit segments with Structured Streaming,
    * applying each micro-batch through [[applyEdits]] and republishing the
    * merged snapshot — the full live-tailing loop
    * (`NameNodeLoader.namenode.getEditLogTailer` cadence). Segments are
    * whole files (a namenode rolls its log into finalized segments the
    * same way), so FileStreamSource's one-batch-per-new-file matches the
    * real arrival unit. The republished snapshot is locally checkpointed
    * per batch: downstream queries never re-replay the op chain, and the
    * k-chunk lineage cannot grow unboundedly across segments.
    *
    * Each batch's TYPED OPS frame goes to the callback alongside the
    * post-apply snapshot — what an incremental consumer needs:
    * `api.IncrementalCensus.touchedPredicate(ops)` turns the batch into a
    * pushdown scan predicate and the census cycle folds the ops-bounded
    * slices instead of rescanning the namespace. The ops frame is locally
    * checkpointed (it is consumed at least twice: replay + predicate).
    *
    * @param availableNow true (default) drains what exists and stops —
    *   the one-shot catch-up; false keeps the query live for a namenode
    *   that keeps rolling segments (callers stop it). */
  def tailWithOps(spark: SparkSession, initial: DataFrame,
                  segmentsDir: String,
                  publish: (DataFrame, DataFrame) => Unit,
                  availableNow: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    var current = initial
    val sink = spark.readStream.format("xml")
      .option("rowTag", "RECORD").schema(recordSchema)
      .load(segmentsDir + "/*.xml")
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // ops arrive pre-parsed; project to the typed frame and apply
        val typed = typedOps(batch).localCheckpoint(eager = true)
        current = applyEdits(current, typed).localCheckpoint(eager = true)
        publish(current, typed)
      }
    (if (availableNow)
       sink.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
     else sink)
      .start()
  }

  /** Durable variant of [[tailWithOps]]: survives a restart without re-replaying
    * history. The plain tail keeps the replayed snapshot in a driver
    * `var` — correct only because its temp checkpoint dies with the
    * query; give it a durable `checkpointLocation` naively and a restart
    * would SKIP the processed segments (file-source offsets persisted)
    * while `current` reset to `initial`: a silently stale namespace.
    *
    * Here the snapshot is persisted WITH the offsets, batch-atomically:
    *
    *   - the stream's own checkpoint (offsets + seen-files log) lives at
    *     `<checkpointDir>/stream`, so a restarted query never re-reads a
    *     processed segment;
    *   - each batch writes the post-apply snapshot to
    *     `<checkpointDir>/snapshots/batch=<id>` and then creates the
    *     `_COMMIT_<id>` marker (a single atomic file create). Restart
    *     resumes from the highest committed marker.
    *
    * foreachBatch is at-least-once — Spark may re-run the LAST batch
    * after a crash (offsets are WAL'd before the batch, committed after).
    * The marker makes the apply idempotent: a re-delivered batch with
    * `id ≤ lastCommitted` is NOT re-applied (its edits are already in
    * the snapshot), just republished. Crash windows: before the marker →
    * the re-run applies onto the PREVIOUS snapshot (overwriting the
    * half-written parquet); after the marker but before Spark's commit →
    * the re-run is skipped by the marker. Either way the restarted state
    * equals the uninterrupted run's.
    *
    * Old snapshots are pruned after each commit (the previous one is
    * kept until its successor's marker exists, so there is always a
    * committed snapshot on disk). */
  def tailDurable(spark: SparkSession, initial: DataFrame,
                  segmentsDir: String, checkpointDir: String,
                  publish: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val state = new DurableTailState(spark, checkpointDir, initial)
    publish(state.current) // recovered (or initial) state is live at start
    spark.readStream.format("xml")
      .option("rowTag", "RECORD").schema(recordSchema)
      .load(segmentsDir + "/*.xml")
      .writeStream
      .option("checkpointLocation", checkpointDir + "/stream")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        publish(state.applyBatch(batchId, typedOps(batch)))
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Snapshot persistence for [[tailDurable]] — exposed (private[graft])
    * so the spec can drive the batch-replay idempotence directly. */
  private[graft] class DurableTailState(spark: SparkSession,
                                         checkpointDir: String,
                                         initial: DataFrame) {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    private val snapRoot = new HPath(checkpointDir, "snapshots")
    private val fs: FileSystem =
      snapRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    private val Marker = "_COMMIT_(\\d+)".r

    /** Highest committed batch id, or -1 when starting fresh. */
    private[graft] var lastCommitted: Long =
      if (!fs.exists(snapRoot)) -1L
      else fs.listStatus(snapRoot).toSeq.flatMap(_.getPath.getName match {
        case Marker(id) => Some(id.toLong)
        case _ => None
      }).foldLeft(-1L)(math.max)

    private def snapPath(id: Long) = new HPath(snapRoot, s"batch=$id")

    private[graft] var current: DataFrame =
      if (lastCommitted < 0) initial
      else spark.read.parquet(snapPath(lastCommitted).toString)

    /** Apply one micro-batch of ops idempotently: a re-delivered batch
      * (id ≤ last committed) is already folded into the snapshot and is
      * not applied again. Returns the post-batch snapshot. */
    private[graft] def applyBatch(batchId: Long, typed: DataFrame)
        : DataFrame = synchronized {
      if (batchId > lastCommitted) {
        val next = applyEdits(current, typed)
        next.write.mode("overwrite").parquet(snapPath(batchId).toString)
        val persisted = spark.read.parquet(snapPath(batchId).toString)
        fs.create(new HPath(snapRoot, s"_COMMIT_$batchId"), true).close()
        val prev = lastCommitted
        lastCommitted = batchId
        current = persisted
        if (prev >= 0) { // prune the superseded snapshot + marker
          fs.delete(snapPath(prev), true)
          fs.delete(new HPath(snapRoot, s"_COMMIT_$prev"), false)
        }
      }
      current
    }
  }

  /** Replay-drift audit: after tailing a segment from image A, the NEXT
    * fetched image must equal the replayed state — any row here is an op
    * the replay missed, misordered, or mis-modeled (the reference
    * reconciles silently by full reload; surfacing the drift is strictly
    * more information). Pure composition: the id-keyed
    * [[graft.operators.SnapshotDiff.diff]] between the replayed and the
    * fetched namespace — one full-outer join, empty output = no drift. */
  def replayDrift(replayed: DataFrame, nextImage: DataFrame): DataFrame =
    graft.operators.SnapshotDiff.diff(replayed, nextImage)

  /** Leaf cap for the [[chunkCounts]] search tree: keeps the generated
    * expression comfortably inside codegen method limits; a larger k is
    * handled in txid-range-pruned waves (total work stays O(n log k)). */
  private val ChunkTreeCap = 256

  /** Which inter-structural chunks contain at least one bulk
    * (creation/patch) op — ONE aggregation pass per wave, never a
    * per-chunk action. Chunk i is the open txid interval between sorted
    * structural txids i-1 and i (chunk 0 before the first, chunk k after
    * the last). The per-row chunk index is a driver-built BALANCED
    * BINARY-SEARCH tree of nested `when`s over the bounds: O(log k)
    * comparisons per row, codegen-friendly, no UDF, no global window —
    * the scalable alternative to either collecting bulk txids (segment-
    * sized) or a per-chunk `isEmpty` action (k jobs). */
  private def chunkCounts(ops: DataFrame, bounds: Array[Long]): Set[Int] = {
    val bulk = ops.where(col("opcode").isin((Creations ++ Patches): _*))
      .select(col("txid"))
    def tree(b: Array[Long], base: Int, lo: Int, hi: Int)
        : org.apache.spark.sql.Column =
      if (lo == hi)
        when(col("txid") > b(lo), lit(base + lo + 1)).otherwise(lit(base + lo))
      else {
        val mid = (lo + hi) / 2
        when(col("txid") > b(mid), tree(b, base, mid + 1, hi))
          .otherwise(tree(b, base, lo, mid))
      }
    bounds.zipWithIndex.grouped(ChunkTreeCap).toSeq.flatMap { wave =>
      val b = wave.map(_._1)
      val base = wave.head._2
      val isLast = wave.last._2 == bounds.length - 1
      val waveLo = if (base == 0) Long.MinValue else bounds(base - 1)
      // op txids are unique, so exclusive bounds lose nothing; a
      // non-last wave's upper rows belong to the next wave's tree
      val slice =
        if (isLast) bulk.where(col("txid") > waveLo)
        else bulk.where(col("txid") > waveLo && col("txid") < b.last)
      slice.groupBy(tree(b, base, 0, b.length - 1).as("c")).count()
        .collect().map(_.getInt(0))
    }.toSet
  }

  /** Fold one rename (src→dst, applied to CURRENT paths) into an ordered
    * first-match-wins rule list over PRE-COMPOSITION paths, so a run of k
    * consecutive renames becomes ONE projection at flush time instead of
    * k stacked ones. Exact by case analysis on each prior rule
    * (sᵢ→dᵢ): a row it matched now lives at dᵢ+suffix, so
    *  - dᵢ inside src's subtree (or equal): the whole rule's row set is
    *    renamed again — rewrite its destination prefix;
    *  - src strictly inside dᵢ's subtree: only the rows whose suffix
    *    descends into src move — SPLIT off (sᵢ+tail → dst) ahead of the
    *    rule (first match wins, deeper-prefix rule shadows correctly);
    *  - disjoint: untouched.
    * Rows matched by no prior rule still sit at their original path, so
    * the plain (src→dst) appends at the END — any earlier rule that
    * claims a row has already accounted for this rename via the cases
    * above. List length is O(renames + splits). */
  private[graft] def composeRename(rules: Vector[(String, String)],
      src: String, dst: String): Vector[(String, String)] = {
    val out = Vector.newBuilder[(String, String)]
    for ((si, di) <- rules) {
      if (di == src || di.startsWith(src + "/"))
        out += ((si, dst + di.drop(src.length)))
      else if (src.startsWith(di + "/")) {
        out += ((si + src.drop(di.length), dst))
        out += ((si, di))
      } else out += ((si, di))
    }
    out += ((src, dst))
    out.result()
  }

  /** The composed rule list as ONE flat CaseWhen over `path` (chained
    * `.when` appends branches to a single CaseWhen — expression depth
    * stays 1 for any k, so neither analysis recursion nor optimizer
    * inlining can blow up on a mega-segment). Per-row cost is O(rules)
    * prefix compares — one pass over the namespace regardless of k,
    * versus k full passes for stacked per-op projections. */
  private def renameExpr(rules: Seq[(String, String)]): Column = {
    require(rules.nonEmpty, "renameExpr over an empty rule list")
    def sub(s: String, d: String): Column =
      concat(lit(d), expr(s"substring(path, ${s.length + 1})"))
    val (s0, d0) = rules.head
    rules.tail.foldLeft(
        when(col("path") === s0, lit(d0))
          .when(col("path").startsWith(s0 + "/"), sub(s0, d0))) {
      case (c, (s, d)) =>
        c.when(col("path") === s, lit(d))
          .when(col("path").startsWith(s + "/"), sub(s, d))
    }.otherwise(col("path"))
  }

  /** One chunk: latest-wins creation merge + latest-per-attribute patch
    * join. Two id-agnostic path-keyed shuffles, both linear. */
  private def applyBulk(cur: DataFrame, chunk: DataFrame): DataFrame = {
    // --- creations: whole rows, latest txid per path wins ---
    val creations = chunk.where(col("opcode").isin(Creations: _*))
      .groupBy(col("path")).agg(max(struct(col("txid"),
        (col("opcode") === "OP_ADD").as("isFile"), col("inodeId").as("id"),
        col("opUser").as("user"), col("opGroup").as("group"),
        col("permission"), col("mtime"), col("replication"),
        col("blockSize"))).as("c"))
      .select(col("path"), col("c.*"))
    val newRows = creations.select(
      col("id"), col("path"), col("isFile"), col("user"), col("group"),
      col("permission"),
      col("mtime").as("accessTime"), col("mtime").as("modTime"),
      lit(0L).as("fileSize"),
      when(col("isFile"), coalesce(col("blockSize"), lit(0L)))
        .otherwise(lit(0L)).as("blockSize"),
      lit(0L).as("numBlocks"),
      when(col("isFile"), coalesce(col("replication"), lit(0L)))
        .otherwise(lit(0L)).as("fileReplica"),
      lit(0L).as("storagePolicyId"),
      col("isFile").as("isUnderConstruction"),
      lit(false).as("isWithSnapshot"), lit(false).as("hasAcl"),
      lit(false).as("hasEcPolicy"),
      lit(-1L).as("nsQuota"), lit(-1L).as("dsQuota"))
    // creation replaces any existing inode at the path (create/overwrite)
    val merged = cur.join(newRows.select(col("path")), Seq("path"), "left_anti")
      .unionByName(newRows)

    // --- patches: latest value per attribute per path ---
    def latest(cond: org.apache.spark.sql.Column,
               v: org.apache.spark.sql.Column) =
      max(when(cond, struct(col("txid"), v.as("v")))).getField("v")
    val p = chunk.where(col("opcode").isin(Patches: _*))
      .groupBy(col("path")).agg(
        // CLOSE carries the finalized block sum, TRUNCATE the new length;
        // one latest-txid slot so their relative order is honored
        latest(col("opcode").isin("OP_CLOSE", "OP_TRUNCATE"),
          coalesce(col("fileSize"), col("newLength"))).as("p_size"),
        latest(col("opcode") === "OP_CLOSE", col("numBlocks")).as("p_nblocks"),
        latest(col("opcode").isin("OP_CLOSE", "OP_TRUNCATE"), col("mtime"))
          .as("p_close_mtime"),
        // CLOSE finalizes (uc=false), APPEND reopens (uc=true): latest wins
        latest(col("opcode").isin("OP_CLOSE", "OP_APPEND"),
          col("opcode") === "OP_APPEND").as("p_uc"),
        latest(col("opcode") === "OP_SET_STORAGE_POLICY", col("policyId"))
          .as("p_policy"),
        latest(col("opcode") === "OP_SET_REPLICATION", col("replication"))
          .as("p_repl"),
        latest(col("opcode") === "OP_SET_PERMISSIONS", col("permission"))
          .as("p_perm"),
        latest(col("opcode") === "OP_SET_OWNER", col("setUser")).as("p_user"),
        latest(col("opcode") === "OP_SET_OWNER", col("setGroup")).as("p_group"),
        latest(col("opcode") === "OP_TIMES" && col("mtime") >= 0, col("mtime"))
          .as("p_mtime"),
        latest(col("opcode") === "OP_TIMES" && col("atime") >= 0, col("atime"))
          .as("p_atime"),
        latest(col("opcode") === "OP_SET_QUOTA", col("nsQuota")).as("p_nsq"),
        latest(col("opcode") === "OP_SET_QUOTA", col("dsQuota")).as("p_dsq"))
    merged.join(p, Seq("path"), "left")
      .select(
        col("id"), col("path"), col("isFile"),
        coalesce(col("p_user"), col("user")).as("user"),
        coalesce(col("p_group"), col("group")).as("group"),
        coalesce(col("p_perm"), col("permission")).as("permission"),
        coalesce(col("p_atime"), col("accessTime")).as("accessTime"),
        coalesce(col("p_mtime"), col("p_close_mtime"), col("modTime"))
          .as("modTime"),
        coalesce(col("p_size"), col("fileSize")).as("fileSize"),
        col("blockSize"),
        coalesce(col("p_nblocks"), col("numBlocks")).as("numBlocks"),
        coalesce(col("p_repl"), col("fileReplica")).as("fileReplica"),
        coalesce(col("p_policy"), col("storagePolicyId"))
          .as("storagePolicyId"),
        coalesce(col("p_uc"), col("isUnderConstruction"))
          .as("isUnderConstruction"),
        col("isWithSnapshot"), col("hasAcl"), col("hasEcPolicy"),
        coalesce(col("p_nsq"), col("nsQuota")).as("nsQuota"),
        coalesce(col("p_dsq"), col("dsQuota")).as("dsQuota"))
  }
}
