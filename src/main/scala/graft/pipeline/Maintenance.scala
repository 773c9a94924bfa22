package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-call orchestration of a generation-versioned serving store's
  * maintenance tick — the lifecycle the soak spec and the ScaleBench
  * lifecycle stages used to compose by hand (~10 lines of
  * stamp/guard/tombstone/compact per index per tick, with the guard
  * subtleties easy to get wrong: round 12 shipped a delete-after-update
  * swallow exactly because every caller re-derived the guard).
  *
  * The model, shared by all three persisted index families
  * (`Bm25Index` postings, `Similarity` IVF cells, `Dedup` signatures):
  *
  *  - every appended batch is STAMPED with the tick's generation;
  *  - an UPDATE appends the new generation's rows and tombstones the id
  *    up to the superseded generation (`upto_gen = gen - 1`);
  *  - a DELETE tombstones the id across all generations
  *    (`upto_gen = Long.MaxValue`);
  *  - probes filter through the gen anti-join (broadcast, id-keyed);
  *  - tombstone growth is WATCHED ([[Dedup.compactNeeded]]) and the
  *    tick runs the physical compaction the moment the set outgrows
  *    broadcast comfort: rewrite the store through the door's filter,
  *    drop the tombstone table.
  *
  * Everything in a tick is O(delta + tombstones): the delta's
  * index/stats math, tombstone-sized guard joins, one tombstone-sized
  * count for the trigger. The store's rows are read ONLY by a fired
  * compaction — the one honest corpus-sized rewrite, which this
  * orchestration schedules instead of letting the anti-join broadcast
  * grow until it fails.
  *
  * Contract on ids within one tick: the `adds`, `deletes`, and
  * `updates` batches must be disjoint, `updates` ids must be currently
  * live, `deletes` must be currently live (re-sent deletes of
  * already-deleted ids are tolerated — the gen-aware guard drops them),
  * and `adds` ids must be NEW or previously fully deleted — a re-added
  * id's surviving MaxValue tombstone is DEMOTED to `upto_gen = gen - 1`
  * so its fresh rows serve while every older generation stays retired.
  *
  * THE RE-SEND TOLERANCE ENDS AT A COMPACTION: a fired compaction
  * folds the tombstones into the store and empties the table, so the
  * guard keeps no history of pre-compaction deletes — a delete of an
  * id retired BEFORE the last compaction is indistinguishable from a
  * fresh delete and silently double-decrements a stats-keeping door's
  * `(n, total_len)` (`MaintenanceSpec` pins exactly this drift).
  * Exactly-once across compactions is the feed's contract: the
  * streaming tailer's batch-id replay skip provides it for REPLAYS
  * (the at-least-once case that actually occurs); a feed that can
  * re-send the same logical delete in two different batches must
  * dedup upstream.
  */
object Maintenance {

  /** Physical home of a gen-versioned index: the tick appends stamped
    * deltas and, when the compaction trigger fires, rewrites the live
    * rows and drops the tombstones. */
  trait Store {
    def rows: DataFrame
    def append(delta: DataFrame): Unit
    def rewrite(live: DataFrame): Unit
    /** Physical-fragmentation signal, consulted by [[tick]] right after
      * the batch's append: `true` asks for a compaction even when the
      * tombstone set is still broadcast-comfortable. Stores whose
      * layout accretes one unit per appended delta (the streaming
      * tailer's per-batch version dirs) override this with a
      * size-tiered bound — otherwise an add-heavy feed, which never
      * grows tombstones, fragments the store without limit and the
      * serving plan becomes a union of N scans. Must be O(layout
      * metadata) — a listing, never a data read. */
    def fragmented: Boolean = false
  }

  /** In-memory store backed by executor-local checkpoints — the
    * fixture/monitor shape (the soak). Each append truncates lineage so
    * a long tick sequence never accumulates a union tower. */
  final class FrameStore(initial: DataFrame) extends Store {
    private var cur = initial.localCheckpoint()
    def rows: DataFrame = cur
    def append(delta: DataFrame): Unit =
      cur = cur.unionByName(delta).localCheckpoint()
    def rewrite(live: DataFrame): Unit = cur = live.localCheckpoint()
  }

  /** Parquet-directory store — the single-writer shape (fixtures, the
    * bench, batch jobs that own their directory). `write(df, dir,
    * mode)` is the family's canonical writer (e.g. `Bm25Index.write`,
    * which keeps the bucket partitioning and in-partition term order).
    *
    * Compaction is crash-safe and FS-agnostic: the survivors are FULLY
    * materialized into a `.compact` side directory through the Hadoop
    * FS layer (so `dir` may live on HDFS/S3A), then the old data moves
    * aside to `.old`, the side dir renames in, and the retired copy is
    * dropped — a crash at any point leaves a complete copy recoverable
    * by [[rows]]/[[append]] (the primary path can only be missing
    * AFTER the side write completed, so recovery always has a whole
    * store to promote). What this store does NOT give is a concurrent
    * reader's view across the rename gap — serving deployments that
    * read while a compaction lands belong on the pointer-committed
    * [[graft.streaming.IndexMaintenanceStream.VersionedStore]]. */
  final class ParquetStore(spark: SparkSession, val dir: String,
                           write: (DataFrame, String, String) => Unit)
      extends Store {
    private def fs = {
      val p = new org.apache.hadoop.fs.Path(dir)
      (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
    }
    private def side = new org.apache.hadoop.fs.Path(dir + ".compact")
    private def retired = new org.apache.hadoop.fs.Path(dir + ".old")
    /** Heal after a crash inside [[rewrite]]: the primary path goes
      * missing only between the two renames, and at that point the
      * side dir holds the complete new store (preferred); the retired
      * copy is the defensive fallback. */
    private def recover(): Unit = {
      val (hfs, root) = fs
      if (!hfs.exists(root)) {
        if (hfs.exists(side)) { hfs.rename(side, root); () }
        else if (hfs.exists(retired)) { hfs.rename(retired, root); () }
      }
    }
    def rows: DataFrame = { recover(); spark.read.parquet(dir) }
    def append(delta: DataFrame): Unit = {
      recover(); write(delta, dir, "append")
    }
    def rewrite(live: DataFrame): Unit = {
      recover()
      val (hfs, root) = fs
      // leftovers from a prior crash lost to the surviving primary
      if (hfs.exists(side)) hfs.delete(side, true)
      if (hfs.exists(retired)) hfs.delete(retired, true)
      write(live, dir + ".compact", "overwrite") // complete BEFORE any move
      hfs.rename(root, retired)
      hfs.rename(side, root)
      hfs.delete(retired, true)
      ()
    }
  }

  /** The FROZEN quantizer tables a vector door serves under — the
    * coarse centroids and (for the PQ doors) the codebooks. These ARE
    * the store's identity: every persisted `(cell, …)` / `(cell, nid,
    * codes)` row was keyed by them, so a door reconstructed with
    * RE-TRAINED tables — even from the same seed data — would silently
    * re-key every code row it appends while the old rows keep their old
    * keys. [[save]]/[[load]] persist them next to the store's state
    * (bit-exact: doubles travel as raw `doubleToLongBits` hex), and
    * [[contentHash]] is the identity check the streaming layer's
    * `applyBatch`/`viewAt` fail fast on (the hash rides as the file's
    * first line so the per-batch check reads one line, not the
    * tables). */
  final case class Quantizer(cents: Seq[(Long, Array[Double])],
                             codebooks: Option[Array[Array[Array[Double]]]]) {
    // an empty codebook table is a malformed door, never a PQ-free one
    // (that is None): fail at construction with a message instead of an
    // ArrayIndexOutOfBounds inside serialize's cbs(0) header read
    require(codebooks.forall(_.nonEmpty),
      "a Quantizer's codebooks must be None (no PQ tables) or non-empty" +
        " — Some(empty) is a malformed table, not a PQ-free door")
    lazy val contentHash: String = Quantizer.hashOf(this)
  }

  object Quantizer {
    private def hex(d: Double): String =
      java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
    private def unhex(s: String): Double =
      java.lang.Double.longBitsToDouble(java.lang.Long.parseUnsignedLong(s, 16))

    /** Deterministic, bit-exact text form (the hash input). */
    def serialize(q: Quantizer): String = {
      val sb = new StringBuilder("graft-quantizer-v1\n")
      sb.append(s"cents ${q.cents.size}\n")
      q.cents.foreach { case (id, v) =>
        sb.append(id).append(' ')
          .append(v.map(hex).mkString(" ")).append('\n')
      }
      q.codebooks match {
        case Some(cbs) =>
          sb.append(s"codebooks ${cbs.length} ${cbs(0).length}\n")
          cbs.foreach { sub =>
            sub.foreach { e =>
              sb.append(e.map(hex).mkString(" ")).append('\n')
            }
          }
        case None => sb.append("codebooks 0 0\n")
      }
      sb.toString
    }

    def hashOf(q: Quantizer): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.digest(serialize(q).getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
    }

    /** Persist under `path` (one file, Hadoop FS layer — HDFS/S3A-able
      * like the store): first line the content hash, then the
      * serialized tables. Overwrites — a bootstrap replay rewrites the
      * identical bytes. The write is side-file + atomic rename (the
      * `DocsStream.swapPointer` pattern): this file is the store's ONLY
      * durable identity copy, so an in-place overwrite that crashed
      * mid-write would leave a truncated file that fails [[load]]'s
      * hash check with no way back short of re-training — exactly the
      * hazard the persistence exists to prevent. With the rename, the
      * path always holds either the old or the new COMPLETE version. */
    def save(spark: SparkSession, path: String, q: Quantizer): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
      val conf = spark.sessionState.newHadoopConf()
      val hfs = p.getFileSystem(conf)
      val out = hfs.create(tmp, true)
      try out.write((q.contentHash + "\n" + serialize(q)).getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      org.apache.hadoop.fs.FileContext
        .getFileContext(p.toUri, conf)
        .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }

    /** Reload the frozen tables — what a restarted JVM constructs its
      * door from instead of re-training. Verifies the stored hash. */
    def load(spark: SparkSession, path: String): Quantizer = {
      val p = new org.apache.hadoop.fs.Path(path)
      val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val in = hfs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val lines = text.linesIterator.toArray
      require(lines.length >= 3 && lines(1) == "graft-quantizer-v1",
        s"$path is not a graft quantizer file")
      val nCents = lines(2).split(' ')(1).toInt
      val cents = (0 until nCents).map { i =>
        val parts = lines(3 + i).split(' ')
        parts(0).toLong -> parts.drop(1).map(unhex)
      }
      val cbHdr = lines(3 + nCents).split(' ')
      val (m, ksub) = (cbHdr(1).toInt, cbHdr(2).toInt)
      val cbs =
        if (m == 0) None
        else Some(Array.tabulate(m) { s =>
          Array.tabulate(ksub) { c =>
            lines(4 + nCents + s * ksub + c).split(' ').map(unhex)
          }
        })
      val q = Quantizer(cents, cbs)
      require(q.contentHash == lines(0),
        s"$path is corrupt: content hash mismatch")
      q
    }

    /** The persisted identity alone — the first line — one short read,
      * never a table parse. The serving layer's per-batch/per-view
      * check now rides the state snapshot's meta instead (see
      * `IndexMaintenanceStream`); this stays the door for external
      * tooling (a metrics scrape, a pre-flight audit) that wants the
      * file's identity without loading tables. None when no quantizer
      * was persisted (a pre-r17 layout or a quantizer-free door). */
    def persistedHash(spark: SparkSession, path: String): Option[String] = {
      val p = new org.apache.hadoop.fs.Path(path)
      val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (!hfs.exists(p)) None
      else {
        val in = hfs.open(p)
        try {
          val rd = new java.io.BufferedReader(
            new java.io.InputStreamReader(in,
              java.nio.charset.StandardCharsets.UTF_8))
          Option(rd.readLine())
        } finally in.close()
      }
    }
  }

  /** What the tick needs to know about one index family. The three
    * doors below adapt `Bm25Index`, `Similarity`, and `Dedup`. */
  trait Door {
    /** id column name in index rows AND the unified tombstone table. */
    def idName: String
    /** id column in INPUT batches (docs/vectors), possibly named
      * differently (`vec_id` feeding `nid` rows). */
    def batchId: Column
    /** UNSTAMPED index rows for an input batch. */
    def index(batch: DataFrame): DataFrame
    def stamp(rows: DataFrame, gen: Long): DataFrame
    /** `ids` carries exactly one column named [[idName]]. */
    def tombstones(ids: DataFrame, uptoGen: Long): DataFrame
    def applyTombstones(rows: DataFrame, tombs: DataFrame): DataFrame
    /** 1-row all-numeric stats frame for a batch, if the family keeps
      * corpus stats (BM25's `(n, total_len)`); the tick folds adds and
      * update-new positive, deletes and update-old negative. */
    def statsDelta(batch: DataFrame): Option[DataFrame] = None
    /** One-pass `(rows, statsDelta)` for a batch. The default composes
      * [[index]] and [[statsDelta]]; a stats-keeping door should
      * override it to SHARE the per-batch parse (BM25's tokenization)
      * between the appended rows and the stats fold — the tick feeds
      * every adds/updates delta through this door exactly once. */
    def indexWithStats(batch: DataFrame): (DataFrame, Option[DataFrame]) =
      (index(batch), statsDelta(batch))
    /** The frozen quantizer tables this door encodes under, if any —
      * the store-identity the streaming layer persists at bootstrap and
      * checks on every apply/view ([[Quantizer]]'s re-keying hazard).
      * Text doors (BM25, signatures) have none. */
    def quantizer: Option[Quantizer] = None
  }

  final class Bm25Door(text: Column, nBuckets: Int) extends Door {
    val idName = "doc_id"
    val batchId: Column = col("doc_id")
    def index(batch: DataFrame): DataFrame =
      Bm25Index.build(batch, batchId, text, nBuckets)._1
    def stamp(rows: DataFrame, gen: Long): DataFrame =
      Bm25Index.stampGen(rows, gen)
    def tombstones(ids: DataFrame, uptoGen: Long): DataFrame =
      Bm25Index.genTombstones(ids, col(idName), uptoGen)
    def applyTombstones(rows: DataFrame, tombs: DataFrame): DataFrame =
      Bm25Index.applyGenTombstones(rows, tombs)
    override def statsDelta(batch: DataFrame): Option[DataFrame] =
      Some(Bm25Index.build(batch, batchId, text, nBuckets)._2)
    /** One tokenization pass per delta: the shared build lazily
      * checkpoints the `(doc_id, toks)` frame so the append's postings
      * job materializes it and the stats fold reads the blocks back
      * instead of re-tokenizing (halves the tick's per-delta work). */
    override def indexWithStats(batch: DataFrame)
        : (DataFrame, Option[DataFrame]) = {
      val (rows, stats) = Bm25Index.buildShared(batch, batchId, text,
        nBuckets)
      (rows, Some(stats))
    }
  }

  final class IvfDoor(cents: Seq[(Long, Array[Double])]) extends Door {
    val idName = "nid"
    val batchId: Column = col("vec_id")
    def index(batch: DataFrame): DataFrame =
      Similarity.ivfAssign(batch, cents)
    def stamp(rows: DataFrame, gen: Long): DataFrame =
      Similarity.ivfStampGen(rows, gen)
    def tombstones(ids: DataFrame, uptoGen: Long): DataFrame =
      Similarity.ivfGenTombstones(ids, col(idName), uptoGen)
    def applyTombstones(rows: DataFrame, tombs: DataFrame): DataFrame =
      Similarity.ivfApplyGenTombstones(rows, tombs)
    override val quantizer: Option[Quantizer] =
      Some(Quantizer(cents, None))
  }

  /** The PQ-CODE serving door — the memory-bounded billion-vector
    * regime ([[Similarity.ivfPqAssign]]'s `(cell, nid, codes)` rows,
    * corpus × (8 + m) bytes instead of full float vectors). Both
    * quantizers are FROZEN (coarse centroids + PQ codebooks), so a
    * delta batch is one shuffle-free assign+encode projection and the
    * gen-tombstone machinery is identical to the full-vector
    * [[IvfDoor]]'s (same `nid`/`gen` keys — the code column changes
    * nothing about retirement). Re-seeding either quantizer after
    * drift is the scheduled-rebuild path, exactly like the IVF door.
    * Serve through [[VectorLeg.Pq]]. */
  final class IvfPqDoor(cents: Seq[(Long, Array[Double])],
                        cbs: Array[Array[Array[Double]]]) extends Door {
    val idName = "nid"
    val batchId: Column = col("vec_id")
    def index(batch: DataFrame): DataFrame =
      Similarity.ivfPqAssign(batch, cents, cbs)
    def stamp(rows: DataFrame, gen: Long): DataFrame =
      Similarity.ivfStampGen(rows, gen)
    def tombstones(ids: DataFrame, uptoGen: Long): DataFrame =
      Similarity.ivfGenTombstones(ids, col(idName), uptoGen)
    def applyTombstones(rows: DataFrame, tombs: DataFrame): DataFrame =
      Similarity.ivfApplyGenTombstones(rows, tombs)
    override val quantizer: Option[Quantizer] =
      Some(Quantizer(cents, Some(cbs)))
  }

  /** The SQ8 (int8 scalar-quantized) serving door — the middle tier of
    * the bytes-vs-recall spectrum ([[Similarity.sq8Assign]]'s
    * `(cell, nid, qv, scale_x1e9)` rows: d bytes/vector, near-full
    * recall, no rerank tail needed). Coarse quantizer FROZEN like
    * every vector door; a delta batch is one shuffle-free
    * quantize+assign projection; gen machinery identical. Serve
    * through [[VectorLeg.Sq8]]. */
  final class IvfSq8Door(cents: Seq[(Long, Array[Double])]) extends Door {
    val idName = "nid"
    val batchId: Column = col("vec_id")
    def index(batch: DataFrame): DataFrame =
      Similarity.sq8Assign(batch, cents)
    def stamp(rows: DataFrame, gen: Long): DataFrame =
      Similarity.ivfStampGen(rows, gen)
    def tombstones(ids: DataFrame, uptoGen: Long): DataFrame =
      Similarity.ivfGenTombstones(ids, col(idName), uptoGen)
    def applyTombstones(rows: DataFrame, tombs: DataFrame): DataFrame =
      Similarity.ivfApplyGenTombstones(rows, tombs)
    override val quantizer: Option[Quantizer] =
      Some(Quantizer(cents, None))
  }

  /** The RESIDUAL-encoded PQ-code door (IVFADC — the accuracy-per-byte
    * shape the raw-code [[IvfPqDoor]]'s measured recall gap pays for):
    * rows are `(cell, nid, residual codes)` under frozen centroids AND
    * frozen residual codebooks ([[Similarity.ivfPqResidualTrain]], run
    * once at door construction). Delta cost, gen machinery, and
    * retirement are identical to [[IvfPqDoor]]; serve through
    * [[VectorLeg.PqResidual]]. */
  final class IvfPqResidualDoor(cents: Seq[(Long, Array[Double])],
                                rcbs: Array[Array[Array[Double]]])
      extends Door {
    val idName = "nid"
    val batchId: Column = col("vec_id")
    def index(batch: DataFrame): DataFrame =
      Similarity.ivfPqResidualAssign(batch, cents, rcbs)
    def stamp(rows: DataFrame, gen: Long): DataFrame =
      Similarity.ivfStampGen(rows, gen)
    def tombstones(ids: DataFrame, uptoGen: Long): DataFrame =
      Similarity.ivfGenTombstones(ids, col(idName), uptoGen)
    def applyTombstones(rows: DataFrame, tombs: DataFrame): DataFrame =
      Similarity.ivfApplyGenTombstones(rows, tombs)
    override val quantizer: Option[Quantizer] =
      Some(Quantizer(cents, Some(rcbs)))
  }

  final class SigDoor(idCol: String, text: Column, shingleN: Int,
                      perms: Int) extends Door {
    val idName = "did"
    val batchId: Column = col(idCol)
    def index(batch: DataFrame): DataFrame =
      Dedup.minhashSignatures(batch, idCol, text, shingleN, perms)
    def stamp(rows: DataFrame, gen: Long): DataFrame =
      Dedup.sigStampGen(rows, gen)
    def tombstones(ids: DataFrame, uptoGen: Long): DataFrame =
      Dedup.sigGenTombstones(ids, col(idName), uptoGen)
    def applyTombstones(rows: DataFrame, tombs: DataFrame): DataFrame =
      Dedup.applySigGenTombstones(rows, tombs)
  }

  /** Serving-side state the tick advances. `tombstones` is the unified
    * generation table `(idName, upto_gen)`; `stats` is the family's
    * 1-row corpus stats (BM25) or None; `nextGen` stamps the NEXT
    * tick's appends and must only grow. */
  final case class State(tombstones: DataFrame, stats: Option[DataFrame],
                         nextGen: Long, compactions: Long = 0L) {
    /** Probe-side view of a store through this state's tombstones. */
    def live(door: Door, store: Store): DataFrame =
      door.applyTombstones(store.rows, tombstones)
  }

  /** Fresh state for a store whose base load was stamped with
    * generation 0 and whose stats (if any) are already corpus-level. */
  def initialState(spark: SparkSession, door: Door,
                   stats: Option[DataFrame] = None): State =
    State(emptyTombstones(spark, door), stats.map(snap), 1L)

  /** Persist the serving state next to its store: tombstones as
    * parquet, the scalars AND the 1-row stats inside the properties
    * file — ONE write action per snapshot. With the store itself
    * already on disk ([[ParquetStore]]), a save/load pair survives a
    * JVM restart — [[loadState]] resumes ticking at the same generation
    * with the same guards. Writes are state-sized (tombstone table +
    * a small text file), never store-sized. */
  def saveState(st: State, dir: String,
                extraProps: Map[String, String] = Map.empty,
                tombstonesKnownEmpty: Boolean = false): Long = {
    // a caller that KNOWS the tombstone table is empty (bootstrap — its
    // state is initialState's zero-row frame by construction) skips the
    // parquet write whole: an empty write still pays a full Spark write
    // action, and every lifecycle store pays it once per bootstrap. The
    // meta carries `tombEmpty` and loadState rebuilds the empty frame
    // from `tombSchema` as a LocalRelation — zero jobs both sides.
    //
    // RETURNS the tombstone row count OBSERVED inside the write action
    // itself (0 when known-empty, -1 when the observation timed out):
    // the compaction trigger ([[Dedup.compactNeededFromCount]] =
    // count × bytesPerRow vs threshold) needs exactly this number, and
    // riding it on the write lets the streaming applyBatch skip the
    // trigger's separate count() job per batch. Bounded, logged and
    // counted await (IndexMaintenanceStream.observedRows, shared with
    // VersionedStore.append) — a timeout degrades to the caller
    // re-counting, never a hang or a silently wrong decision.
    var observed = 0L
    if (!tombstonesKnownEmpty) {
      val obs = org.apache.spark.sql.Observation()
      // one output file: the table is BOUNDED by the compaction trigger
      // (~10 MB default — compactThresholdBytes), so a single-partition
      // write is safe at any corpus scale, halves the tiny write's
      // task/commit overhead, and gives loadState one footer to read
      st.tombstones.observe(obs, count(lit(1)).as("rows"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/tombstones")
      // await cost measured at 1-4 ms per call (the execution-end
      // listener event lands right behind the action) — not a latency
      // hazard at any batch cadence the stream runs at
      observed = graft.streaming.IndexMaintenanceStream.observedRows(
        st.tombstones.sparkSession, obs, s"tombstone write to $dir",
        "the caller re-counts the tombstones")
    }
    // through the Hadoop FS layer like the parquet half, so the
    // whole snapshot may live on HDFS/S3A (java.nio would silently
    // treat a scheme-qualified dir as a relative local path)
    val metaPath = new org.apache.hadoop.fs.Path(s"$dir/state.meta")
    val hfs = metaPath.getFileSystem(
      st.tombstones.sparkSession.sessionState.newHadoopConf())
    val out = hfs.create(metaPath, true)
    // the parquet schema rides in the meta line (properties-escaped
    // DDL) so loadState can supply it to the reader: an inferred
    // read pays a footer-reading Spark job PER read.parquet call
    val props = new java.util.Properties()
    props.setProperty("nextGen", st.nextGen.toString)
    props.setProperty("compactions", st.compactions.toString)
    props.setProperty("tombSchema", st.tombstones.schema.toDDL)
    if (tombstonesKnownEmpty) props.setProperty("tombEmpty", "1")
    // caller-supplied identity lines (the streaming layer rides the
    // door's quantizer hash here, so the per-batch pointer read IS the
    // identity check); names must not collide with the fixed keys
    extraProps.foreach { case (k, v) => props.setProperty(k, v) }
    // the stats row rides in the meta too (schema DDL + one value per
    // field, numeric strings — exact round-trips under cast): it is ONE
    // all-numeric row, and writing it as its own parquet dir cost a
    // second Spark write action on EVERY applied batch (the r16 budget
    // itemized it). The frame is a literal LocalRelation by
    // construction (tick/initialState snap it), so this collect is a
    // driver fold, not a job; a non-literal caller pays one tiny job —
    // once, since every loaded snapshot is literal again.
    st.stats.foreach { s =>
      // the value ride is text: only types whose string form casts
      // back EXACTLY may ride (a null used to ride as the string
      // "null", surviving only because numeric casts of "null" yield
      // null again — a string-typed field would round-trip to the
      // LITERAL "null")
      s.schema.fields.foreach { f =>
        require(f.dataType.isInstanceOf[
            org.apache.spark.sql.types.NumericType] ||
            f.dataType == org.apache.spark.sql.types.BooleanType,
          s"stats field ${f.name}: ${f.dataType.simpleString} cannot " +
            "ride the state meta — only numeric/boolean string forms " +
            "round-trip exactly")
      }
      props.setProperty("statsSchema", s.schema.toDDL)
      val row = s.collect().head
      s.schema.fields.indices.foreach { i =>
        if (row.isNullAt(i)) props.setProperty(s"statsNull.$i", "1")
        else props.setProperty(s"statsVal.$i", String.valueOf(row.get(i)))
      }
    }
    try props.store(out, null) finally out.close()
    observed
  }

  /** Reload a [[saveState]] snapshot. The tombstone frame comes back as
    * a parquet scan (tombstone-sized, broadcast at probe time exactly
    * like the in-memory frame); stats come back as the literal 1-row
    * frame rebuilt from the meta values — loading runs no Spark job and
    * reads no stats parquet (snapshots from before the row rode in the
    * meta fall back to the lazy parquet scan). [[tick]] re-snaps its
    * fold output, so plan lineage never accumulates across ticks. */
  def loadState(spark: SparkSession, dir: String): State =
    loadStateWithProps(spark, dir)._1

  /** [[loadState]] plus the snapshot's raw meta properties — the door
    * for consumers that ride identity lines in the meta (the streaming
    * layer's quantizer hash) to get them from the SAME read the state
    * load already pays, instead of a second file open. */
  def loadStateWithProps(spark: SparkSession, dir: String)
      : (State, java.util.Properties) = {
    val meta = new java.util.Properties()
    val metaPath = new org.apache.hadoop.fs.Path(s"$dir/state.meta")
    val hfs = metaPath.getFileSystem(spark.sessionState.newHadoopConf())
    val in = hfs.open(metaPath)
    try meta.load(in) finally in.close()
    // schema-supplied reads skip the footer-inference job; a snapshot
    // from before the schemas rode in the meta falls back to inference
    def rd(sub: String, key: String) = {
      val r = Option(meta.getProperty(key)).fold(spark.read)(ddl =>
        spark.read.schema(
          org.apache.spark.sql.types.StructType.fromDDL(ddl)))
      r.parquet(s"$dir/$sub")
    }
    val inlineStats = Option(meta.getProperty("statsSchema")).flatMap { ddl =>
      val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
      // a field rides as its exact value string OR the explicit null
      // sentinel (statsNull.i) — never the string "null"
      val vals = schema.fields.indices.map { i =>
        if (meta.getProperty(s"statsNull.$i") != null) Some(lit(null))
        else Option(meta.getProperty(s"statsVal.$i")).map(lit(_))
      }
      if (vals.nonEmpty && vals.forall(_.isDefined))
        Some(litRow(spark, schema, vals.map(_.get)))
      else None
    }
    val stats = inlineStats.orElse {
      if (hfs.exists(new org.apache.hadoop.fs.Path(s"$dir/stats")))
        Some(rd("stats", "statsSchema"))
      else None
    }
    // a snapshot saved with tombstonesKnownEmpty carries no tombstone
    // parquet at all: rebuild the empty frame from the schema line as a
    // LocalRelation (zero Spark jobs, exactly what the writer held)
    val tombs =
      if (meta.getProperty("tombEmpty") != null)
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(
            meta.getProperty("tombSchema")))
      else rd("tombstones", "tombSchema")
    (State(tombs, stats,
      meta.getProperty("nextGen").toLong,
      meta.getProperty("compactions").toLong), meta)
  }

  def emptyTombstones(spark: SparkSession, door: Door): DataFrame =
    spark.range(0).select(col("id").as(door.idName),
      col("id").as("upto_gen"))

  /** One-row frame of literal columns over a LocalRelation — the shape
    * [[snap]] and [[loadState]] build stats from. A LocalRelation (not
    * `range(1)`: Range is a real leaf) lets Catalyst constant-fold the
    * projection back INTO the relation, so a later `collect` — the one
    * [[saveState]] runs to ride the row into the meta — is a driver
    * fold, zero Spark jobs. */
  private def litRow(spark: SparkSession,
                     schema: org.apache.spark.sql.types.StructType,
                     vals: Seq[Column]): DataFrame = {
    val one = spark.createDataFrame(
      java.util.Collections.singletonList(
        org.apache.spark.sql.Row(1)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__one",
          org.apache.spark.sql.types.IntegerType))))
    one.select(schema.fields.zip(vals).map { case (f, v) =>
      v.cast(f.dataType).as(f.name)
    }.toSeq: _*)
  }

  /** Snapshot a 1-row stats frame to a literal plan — a deployment
    * persists the stats row next to the index; keeping the fold lineage
    * alive across ticks would grow the plan without bound. */
  private def snap(stats: DataFrame): DataFrame = {
    val row = stats.collect().head
    litRow(stats.sparkSession, stats.schema,
      stats.schema.fields.indices.map(i => lit(row.get(i))))
  }

  private def negate(stats: DataFrame): DataFrame =
    stats.select(stats.schema.fieldNames.map(n =>
      (-col(n)).as(n)).toSeq: _*)

  /** One maintenance tick: guarded deletes + guarded generation updates
    * + adds (with re-add demotion), stats fold, compaction trigger —
    * returns the advanced state. `updatesOld` carries the superseded
    * document versions and is REQUIRED when the door keeps stats (their
    * text funds the negative correction, `Bm25Index.delete`'s
    * contract); stats-free doors ignore it.
    *
    * Cost: O(delta) index/stats work + tombstone-sized guard joins +
    * one tombstone-sized count; the store's existing rows are read only
    * by a fired compaction. */
  def tick(door: Door, store: Store, st: State,
           adds: DataFrame, deletes: DataFrame, updates: DataFrame,
           updatesOld: Option[DataFrame] = None,
           compactThresholdBytes: Long = 10L << 20,
           checkpoint: DataFrame => DataFrame = _.localCheckpoint(),
           deltaEmpty: Boolean = false,
           deferCompaction: Boolean = false)
      : State = {
    val spark = st.tombstones.sparkSession
    val gen = st.nextGen
    val keepsStats = st.stats.isDefined

    // ---- deletes: only a MaxValue tombstone suppresses a re-send — an
    // id whose only prior tombstone came from an update is still live
    // and its delete must decrement stats and retire ALL generations
    val fullDels = broadcast(st.tombstones
      .where(col("upto_gen") === Long.MaxValue)
      .select(col(door.idName).as("__prior_id")))
    val freshDels = deletes.join(fullDels,
      door.batchId === col("__prior_id"), "left_anti")
    val delTombs = door.tombstones(
      freshDels.select(door.batchId.as(door.idName)), Long.MaxValue)

    // ---- updates: a retry is recognized by this tick's own bound — a
    // prior tombstone at or above gen-1 means the id's pre-gen rows are
    // already retired; re-applying would double-correct stats and
    // append duplicate gen rows, so the id drops out whole
    val updDone = broadcast(st.tombstones
      .where(col("upto_gen") >= lit(gen - 1))
      .select(col(door.idName).as("__upd_id")))
    val freshNewU = updates.join(updDone,
      door.batchId === col("__upd_id"), "left_anti")
    val freshOldU = updatesOld.map(_.join(updDone,
      door.batchId === col("__upd_id"), "left_anti"))
    if (keepsStats)
      require(updatesOld.isDefined,
        "a stats-keeping door needs updatesOld: the superseded " +
          "versions' text funds the stats correction")
    val updTombs = door.tombstones(
      freshNewU.select(door.batchId.as(door.idName)), gen - 1)

    // ---- adds: demote a re-added id's full-delete tombstone to
    // gen-1 — everything older stays retired, the fresh rows serve
    val addIds = broadcast(
      adds.select(door.batchId.as("__add_id")).distinct())
    val demoted = st.tombstones
      .join(addIds, col(door.idName) === col("__add_id"), "left")
      .select(col(door.idName),
        when(col("__add_id").isNotNull &&
          col("upto_gen") === Long.MaxValue, lit(gen - 1))
          .otherwise(col("upto_gen")).as("upto_gen"))

    // ---- one appended delta, one generation stamp; adds and fresh
    // updates each pass the door ONCE (indexWithStats) — their rows
    // feed the append and their stats feed the fold from the same
    // parse, instead of tokenizing every delta a second time. A caller
    // that KNOWS adds and updates are row-free (`deltaEmpty` — the
    // streaming tailer's delete-only op census) skips the append job
    // and the zero-contribution stats legs whole: a retention-
    // enforcement feed pays no per-batch write at all.
    // REJECTED after measurement (r19): indexing the UNION in one
    // door pass (index(freshNewU ∪ adds)) is row-identical and was
    // briefly adopted to share one parse checkpoint — but it made the
    // written delta ~2x more expensive for DOWNSTREAM READERS (the
    // reseed/cutover rebuild that re-reads the store: its corpus write
    // measured 0.74 s -> 1.92 s with the union delta, A/B at sf0.1),
    // wiping out the saved action. Keep the two per-part passes.
    val (addStats, updStats) =
      if (deltaEmpty) (None, None)
      else {
        val (addRows, aS) = door.indexWithStats(adds)
        val (updRows, uS) = door.indexWithStats(freshNewU)
        store.append(door.stamp(updRows.unionByName(addRows), gen))
        (aS, uS)
      }

    // ---- stats fold: adds and update-new positive, deletes and
    // update-old negative; snapped to a literal row (single collect)
    val stats2 = st.stats.map { s =>
      val parts = Seq(s) ++
        addStats ++
        updStats ++
        freshOldU.flatMap(o => door.statsDelta(o).map(negate)) ++
        door.statsDelta(freshDels).map(negate)
      val names = s.schema.fieldNames.toSeq
      snap(parts.reduce(_ unionByName _)
        .agg(sum(col(names.head)).as(names.head),
          names.tail.map(n => sum(col(n)).as(n)): _*))
    }

    // ---- two-sided compaction trigger: tombstone bytes approaching
    // the broadcast comfort line (delete/update-heavy feeds) OR the
    // store reporting physical fragmentation (add-heavy feeds, which
    // never grow tombstones but accrete one delta per batch — the
    // size-tiered bound that keeps the serving plan's width flat)
    var tombs2 = checkpoint(
      demoted.unionByName(delTombs).unionByName(updTombs))
    var compactions = st.compactions
    // `deferCompaction`: a caller that PERSISTS the state right after
    // the tick (the streaming applyBatch) runs this same two-sided
    // trigger itself, reading the tombstone count off the snapshot
    // write's observation instead of paying compactNeeded's separate
    // count() job — same numbers, same decision, one fewer action per
    // batch. In-memory callers (FrameStore soaks) keep the inline check.
    if (!deferCompaction &&
        (Dedup.compactNeeded(tombs2, compactThresholdBytes) ||
          store.fragmented)) {
      store.rewrite(door.applyTombstones(store.rows, tombs2))
      tombs2 = emptyTombstones(spark, door)
      compactions += 1
    }
    State(tombs2, stats2, gen + 1, compactions)
  }
}
