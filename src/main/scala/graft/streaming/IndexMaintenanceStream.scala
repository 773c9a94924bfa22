package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.Maintenance

/** Streaming maintenance of a GENERATION-versioned serving index — the
  * lifecycle twin of the reference's edit-log tailing
  * (`EditLogSource`): a mutation feed (`op` ∈ add | delete | update)
  * drives one [[Maintenance.tick]] per micro-batch against a persisted
  * store, so the BM25 / IVF / signature indexes stay live-updated the
  * way the reference's namespace does, with the same gen-door
  * semantics the batch path proves (gen-aware delete guard, update
  * retry guard, re-add demotion, stats fold, compaction trigger).
  *
  * Persistence layout under `dir` (all through the Hadoop FS layer so
  * it may live on HDFS/S3A like the data):
  *
  *   dir/store/base_boot | base_b<id>/   compacted bases (writer layout)
  *   dir/store/delta_b<id>/              one stamped delta per batch
  *   dir/store/CURRENT                   → current base name
  *   dir/state/v_boot | v_b<id>/         Maintenance state snapshots
  *   dir/state/CURRENT                   → last APPLIED batch's state
  *
  * Crash contract (the [[DocsStream.nearDedupStream]] discipline,
  * extended to mutable state): every per-batch write is OVERWRITE into
  * a batch-named location, and the STATE pointer swap is the single
  * commit point — it lands only after every payload (delta, staged
  * base, state snapshot) is complete. A crash at any point leaves the
  * committed view on a complete snapshot, and a replayed batch either
  * (a) detects its own state version in CURRENT, finishes any deferred
  * store housekeeping, and skips whole, or (b) re-runs the tick from
  * the pre-batch state, rewriting its own delta/base instead of
  * appending duplicates. The serving view ([[currentView]]) admits
  * only deltas the state pointer has committed — an in-flight batch's
  * delta is invisible until its state swap lands.
  *
  * Mid-tick compaction follows the same commit point: the rewrite only
  * STAGES the new base under the batch's name — the store pointer swap
  * and the sweep of folded dirs are DEFERRED to [[applyBatch]], after
  * the state pointer lands ([[VersionedStore.finalizeCommit]]). The
  * sweep itself is LAGGED one compaction (READER GRACE): a serving
  * query that resolved the committed view keeps its files — the
  * superseded base, the deltas it folded, and the matching state
  * snapshots — until the NEXT compaction commits, so maintenance never
  * breaks an in-flight reader; [[VersionedStore.vacuum]] reclaims the
  * tier eagerly when no reader can hold one. Version
  * resolution is therefore by LISTING, not by the store pointer: a
  * reader at committed batch k serves the newest base named ≤ k, so a
  * staged base from an uncommitted batch (named > k) is invisible, and
  * a committed compaction whose deferred pointer swap was lost to a
  * crash still serves — the pointer is a convenience for external
  * tools, never the correctness carrier. The staged base excludes the
  * batch's own delta from a replayed read (its rows are already folded
  * in), and the tombstone anti-join it re-applies is idempotent.
  *
  * Cost shape per batch: O(delta + tombstones) — the tick's contract —
  * plus the one corpus-sized rewrite whenever a compaction trigger
  * fires. The trigger is TWO-SIDED ([[Maintenance.tick]]): tombstone
  * bytes nearing the broadcast line (delete/update-heavy feeds) or the
  * store's size-tiered fragmentation bound (add-heavy feeds — the
  * normal shape for a growing corpus, which never grows tombstones but
  * accretes one delta dir per batch; without the bound the serving
  * plan becomes a union of N parquet scans and the store a small-files
  * spiral). `maxDeltas` caps the plan's width outright;
  * `maxDeltaBytesRatio` is the amortization knob — firing when the
  * deltas' cumulative bytes reach that fraction of the base keeps
  * total rewrite work O(corpus · (1 + 1/ratio)) per doubling instead
  * of rewriting a huge base every `maxDeltas` tiny batches. ScaleBench
  * pins flat per-batch cost and the bounded store at 1M docs.
  */
object IndexMaintenanceStream {

  private val log =
    org.slf4j.LoggerFactory.getLogger(IndexMaintenanceStream.getClass)

  /** Count of store-write observation timeouts ([[observedRows]]) —
    * BOTH kinds of write: the delta appends of [[VersionedStore.append]]
    * (the keep-the-dir degradation arm) and the tombstone writes of
    * [[Maintenance.saveState]] (the caller re-counts). Exposed so the
    * spec (and a deployment's metrics scrape) can see a feed whose
    * writes outrun `spark.graft.appendObserveTimeoutSec` instead of
    * inferring it from surviving empty dirs or extra count jobs. The
    * name predates the second kind and is kept for its readers. */
  val appendObserveTimeouts = new java.util.concurrent.atomic.AtomicLong()

  /** The row count a store write OBSERVED inside its own action, or -1
    * when the metric did not land within
    * `spark.graft.appendObserveTimeoutSec` (default 30 s). The metric
    * arrives through an async listener right after the action, so this
    * is a bounded wait on the observation's future instead of the
    * blocking get: a writer that ran no action (or a write that
    * outran the budget on a loaded cluster) degrades to `fallback`
    * rather than hanging the stream — LOGGED and counted in
    * [[appendObserveTimeouts]], never silent. */
  private[graft] def observedRows(spark: SparkSession,
                                  obs: org.apache.spark.sql.Observation,
                                  what: String, fallback: String): Long = {
    val timeoutSec = spark.conf.get(
      "spark.graft.appendObserveTimeoutSec", "30").toLong
    try {
      scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(timeoutSec, "s"))
        .getAs[Long]("rows")
    } catch {
      case _: java.util.concurrent.TimeoutException =>
        appendObserveTimeouts.incrementAndGet()
        log.warn(s"$what observation timed out after ${timeoutSec}s " +
          "(spark.graft.appendObserveTimeoutSec): either the writer ran " +
          s"no Spark action or the write outran the budget — $fallback")
        -1L
    }
  }

  /** One inferred row schema per store root (see [[VersionedStore.rows]]),
    * KEYED BY THE EFFECTIVE BASE it was inferred from: any path that
    * installs a different base under the root — an in-JVM re-bootstrap
    * (which also invalidates eagerly), a FOREIGN JVM's re-bootstrap or
    * re-seed, an external restore, a committed compaction — changes the
    * resolved base name, so the next resolution re-infers from the new
    * base instead of silently reading it through the stale shape
    * (r18-advice hazard: explicit-schema reads null-fill missing columns
    * instead of failing loudly). The remaining gap — an external rewrite
    * that changes row schema while keeping the SAME dir names — is the
    * same documented immutable-layout contract the state meta rides.
    * Bounded defensively: a long-lived serving JVM touching many store
    * roots clears the map instead of growing without limit (entries are
    * re-inferred on demand). */
  private val storeSchemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, org.apache.spark.sql.types.StructType)]()
  private def invalidateStoreSchema(storeDir: String): Unit =
    storeSchemaCache.remove(storeDir)
  private def cacheStoreSchema(storeDir: String, base: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    if (storeSchemaCache.size() > 4096) storeSchemaCache.clear()
    storeSchemaCache.put(storeDir, (base, schema))
  }

  /** Batch id encoded in a version/dir name: `v_b7`/`base_b7`/
    * `delta_b7` → 7; the boot names → -1. */
  private def parseBatch(version: String): Long =
    if (version.endsWith("boot")) -1L
    else version.substring(version.lastIndexOf('b') + 1).toLong

  /** Where a door's frozen quantizer tables persist, next to the state
    * pointer ([[Maintenance.Quantizer]]). */
  private def quantizerPath(dir: String): String = s"$dir/state/quantizer"

  /** Reload the frozen quantizer a [[bootstrap]] persisted — what a
    * restarted JVM constructs its door from (`new IvfPqDoor(q.cents,
    * q.codebooks.get)`) instead of re-training: re-trained tables, even
    * from the same seed data, would silently re-key every code row the
    * door appends against the rows already in the store. */
  def loadQuantizer(spark: SparkSession, dir: String)
      : Maintenance.Quantizer =
    Maintenance.Quantizer.load(spark, quantizerPath(dir))

  /** The identity lines a quantizer-carrying door rides into every
    * state snapshot's meta, so the per-batch/per-view pointer+meta read
    * the layer already pays IS the identity check — no separate file
    * read, and (unlike the r17 per-JVM validated-pair cache) nothing
    * for a FOREIGN JVM's re-bootstrap/re-seed of the same dir to go
    * stale against: the rewritten snapshots carry the new hash, and the
    * very next load in ANY serving JVM compares against it. */
  private def quantizerProps(door: Maintenance.Door): Map[String, String] =
    door.quantizer.map(q => Map("quantizerHash" -> q.contentHash))
      .getOrElse(Map.empty)

  /** Fail fast when the door's frozen tables are not the ones this
    * store's rows were keyed by — the silent-re-keying hazard
    * [[Maintenance.Quantizer]] documents. `persisted` is the hash the
    * loaded state snapshot's meta carries; a snapshot from before the
    * hash rode in the meta (or a quantizer-free door) checks
    * nothing. */
  private def requireQuantizerMatch(door: Maintenance.Door,
                                    persisted: Option[String],
                                    dir: String): Unit =
    door.quantizer.foreach { q =>
      persisted.foreach { h =>
        require(h == q.contentHash,
          s"the door's frozen quantizer tables (hash ${q.contentHash}) " +
            s"do not match the ones this store's committed state under " +
            s"$dir was keyed by (hash $h) — a re-trained door would " +
            "silently re-key every row it appends while the stored rows " +
            "keep their old cells/codes. Reconstruct the door from " +
            "loadQuantizer(dir), or bootstrap a fresh store for the " +
            "new tables.")
      }
    }

  /** One state snapshot's raw meta properties — the replay-skip path's
    * identity read (the normal path gets them from
    * [[Maintenance.loadStateWithProps]] for free). */
  private def readStateProps(spark: SparkSession, snapDir: String)
      : java.util.Properties = {
    val p = new org.apache.hadoop.fs.Path(s"$snapDir/state.meta")
    val hfs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val props = new java.util.Properties()
    val in = hfs.open(p)
    try props.load(in) finally in.close()
    props
  }

  /** A [[Maintenance.Store]] over the versioned layout: rows = the
    * EFFECTIVE base (newest `base_*` named ≤ `upToBatch` — resolved by
    * listing, see the crash contract above) ∪ committed deltas
    * (strictly newer than that base, at most `upToBatch`); append
    * lands in this batch's delta dir (overwrite — a replay rewrites
    * itself); a fired compaction STAGES a base named for this batch
    * and leaves the pointer commit + sweep to [[finalizeCommit]].
    *
    * `maxDeltas` / `maxDeltaBytesRatio` parameterize the size-tiered
    * [[fragmented]] bound (see the object doc). */
  final class VersionedStore(spark: SparkSession, storeDir: String,
                             writer: (DataFrame, String, String) => Unit,
                             upToBatch: Long,
                             maxDeltas: Int = 16,
                             maxDeltaBytesRatio: Double = 1.0)
      extends Maintenance.Store {
    private def fs = {
      val p = new org.apache.hadoop.fs.Path(storeDir)
      (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
    }

    /** ONE root listing per mutation epoch: every layout consumer
      * (rows / fragmented / graceFloor / finalizeCommit / vacuum /
      * rewrite's `.tmp` cleanup) reads this snapshot of the store
      * root's directory names (`.tmp` included — [[layout]] filters);
      * the mutating calls (append, rewrite, the sweeps) invalidate it.
      * r14 re-listed the root once per consumer — ~6 listings per
      * micro-batch, pure overhead on HDFS/S3A where the listing is the
      * expensive primitive; the counting-FS spec pins the budget at
      * ≤ 2 listStatus calls on the root per applied batch. */
    private var dirsCache: Option[Seq[String]] = None
    private def dirNames: Seq[String] = dirsCache.getOrElse {
      val (hfs, root) = fs
      val ds = hfs.listStatus(root).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName)
      dirsCache = Some(ds)
      ds
    }
    private def invalidate(): Unit = dirsCache = None

    /** Committed layout at `upToBatch`: (effective base, its batch,
      * live delta names). From the cached listing; `.tmp` stagings (a
      * rewrite that crashed mid-write) are never layout members. */
    private def layout: (String, Long, Seq[String]) = {
      val dirs = dirNames.filterNot(_.endsWith(".tmp"))
      val bases = dirs.filter(_.startsWith("base_"))
        .map(n => n -> parseBatch(n)).filter(_._2 <= upToBatch)
      require(bases.nonEmpty,
        s"no base under $storeDir at batch $upToBatch — bootstrap first")
      val (base, baseBatch) = bases.maxBy(_._2)
      val deltas = dirs.filter(_.startsWith("delta_b"))
        .map(n => n -> parseBatch(n))
        .collect { case (n, b) if b > baseBatch && b <= upToBatch => n }
      (base, baseBatch, deltas)
    }

    def rows: DataFrame = {
      val (base, _, deltas) = layout
      // one read per version dir: each is a self-contained
      // hive-partitioned table (a multi-path read would cross-wire
      // their partition discovery). The store's row schema is one
      // frozen shape per store root (all version dirs come from the
      // same door), so it is inferred ONCE per root and supplied to
      // every later read — a schema-less read.parquet pays a
      // footer-inference Spark job PER version dir PER resolution
      // (measured: 7 such jobs in one three-store serving read).
      // [[bootstrap]] invalidates the entry (the only path that can
      // change a root's schema is a re-bootstrap with another door).
      val cached = storeSchemaCache.get(storeDir)
      val frames =
        if (cached != null && cached._1 == base)
          (base +: deltas).map(n =>
            spark.read.schema(cached._2).parquet(s"$storeDir/$n"))
        else {
          // no cache entry, or the effective base changed since it was
          // inferred (compaction / foreign re-bootstrap / restore) —
          // re-infer from the base actually being served
          val first = spark.read.parquet(s"$storeDir/$base")
          cacheStoreSchema(storeDir, base, first.schema)
          first +: deltas.map(n =>
            spark.read.schema(first.schema).parquet(s"$storeDir/$n"))
        }
      frames.reduce(_ unionByName _)
    }

    /** Size-tiered compaction signal, consulted by the tick right
      * after this batch's append: fire when the live delta COUNT hits
      * `maxDeltas` (the hard cap on serving-plan width and file-listing
      * cost) or when the deltas' cumulative bytes reach
      * `maxDeltaBytesRatio` of the base (the amortization tier — on a
      * growing corpus the ratio fires while rewrites are still cheap
      * relative to what they fold in). Metadata-only: one listing plus
      * at most `maxDeltas` content summaries, never a data read. */
    override def fragmented: Boolean = {
      val (base, _, deltas) = layout
      if (deltas.size >= maxDeltas) true
      else if (deltas.isEmpty) false
      else {
        val (hfs, root) = fs
        def bytes(n: String): Long =
          hfs.getContentSummary(
            new org.apache.hadoop.fs.Path(root, n)).getLength
        deltas.map(bytes).sum.toDouble >=
          maxDeltaBytesRatio * math.max(bytes(base), 1L).toDouble
      }
    }

    def append(delta: DataFrame): Unit = {
      val dst = s"$storeDir/delta_b$upToBatch"
      // the delta's row count is OBSERVED inside the write job itself
      // (no second pass): a rare all-suppressed batch (a crash replay
      // whose rows the guards dropped) leaves an empty partitioned dir
      // with no data files that every later read chokes on — drop it
      // by the observed count, without r14's recursive post-write
      // listing walk. (A batch KNOWN delete-only skips this call
      // entirely — the tick's deltaEmpty door.)
      //
      // WRITER CONTRACT (the `writer` parameter of mutationStream /
      // applyBatch): it must execute exactly ONE Spark action over the
      // frame it is handed — the canonical family writers
      // (Bm25Index.write, a partitionBy parquet write) do. The
      // observation is DEFENSIVE against a misbehaving writer: the
      // metric is polled with a bound instead of a blocking get, so a
      // writer that ran no action degrades to the pre-observation
      // behavior (keep the dir) rather than hanging the stream; a
      // writer that runs several actions reports the first action's
      // count — at worst an empty dir survives, which the empty-layout
      // guard was an optimization against, never a correctness carrier.
      val obs = org.apache.spark.sql.Observation()
      writer(delta.observe(obs, count(lit(1)).as("rows")), dst,
        "overwrite")
      // a zero-action writer times out into n = -1; the bound is sized
      // with the batch budget (see [[observedRows]])
      val n = observedRows(spark, obs, s"append to $dst",
        "keeping the delta dir (the empty-layout optimization is OFF " +
          "for this batch)")
      val (hfs, _) = fs
      if (n == 0L)
        hfs.delete(new org.apache.hadoop.fs.Path(dst), true)
      invalidate()
    }

    /** STAGE a compacted base for this batch: side-write, rename into
      * `base_b<id>`, and stop — no pointer swap, no sweep. Until the
      * batch's state pointer commits, the staged base is named > every
      * committed reader's `upToBatch` and therefore invisible (the
      * crash window the old swap-inside-rewrite opened: a new base
      * paired with the pre-batch state's stats/tombstones). A replay
      * of a crashed batch overwrites the staging wholesale. */
    def rewrite(live: DataFrame): Unit = {
      val (hfs, root) = fs
      // stale .tmp stagings from a crashed side-write lost their race
      dirNames.filter(_.endsWith(".tmp")).foreach { n =>
        hfs.delete(new org.apache.hadoop.fs.Path(root, n), true)
      }
      val target = s"base_b$upToBatch"
      val side = s"$storeDir/$target.tmp"
      writer(live, side, "overwrite") // materializes BEFORE any move
      val dst = new org.apache.hadoop.fs.Path(root, target)
      if (hfs.exists(dst)) hfs.delete(dst, true)
      hfs.rename(new org.apache.hadoop.fs.Path(side), dst)
      invalidate()
    }

    /** Deferred store housekeeping, called by [[applyBatch]] AFTER the
      * state pointer swap (and again on a replay skip, so a crash
      * between the two commits self-heals): advance the advisory store
      * pointer to the effective base and sweep stale dirs — LAGGED one
      * compaction for concurrent readers (READER GRACE): a reader that
      * resolved [[rows]] against the PREVIOUS base holds parquet scans
      * over that base and the deltas the new base folded in, so this
      * sweep retains them and deletes only what the previous base's own
      * finalize would have folded (bases older than the previous base,
      * deltas at or below it, `.tmp` stagings). A reader therefore
      * survives any single compaction that lands mid-query and only
      * loses its files after a SECOND compaction commits — a window of
      * at least `maxDeltas` further batches, far longer than a probe.
      * The cost is bounded: at most one superseded corpus copy plus
      * one tier of folded deltas on disk, reclaimed at the next
      * compaction (or eagerly by [[vacuum]]). Idempotent; skipped
      * entirely if a LATER batch's pointer already committed (never
      * regress). */
    def finalizeCommit(): Unit = {
      val (hfs, root) = fs
      val (base, baseBatch, _) = layout
      val ptrBatch = DocsStream.readPointer(spark, storeDir)
        .map(parseBatch).getOrElse(Long.MinValue)
      if (ptrBatch > baseBatch) return // a later commit owns the sweep
      if (ptrBatch < baseBatch)
        DocsStream.swapPointer(spark, storeDir, base)
      // the newest RETIRED base bounds the grace tier; with no retired
      // base yet (first compaction pending) nothing but .tmp is stale
      val prevBatch = graceFloor
      var swept = false
      dirNames.foreach { n =>
        val stale = n != base &&
          (n.endsWith(".tmp") ||
            (n.startsWith("base_") && parseBatch(n) < prevBatch) ||
            (n.startsWith("delta_b") && parseBatch(n) <= prevBatch))
        if (stale) {
          hfs.delete(new org.apache.hadoop.fs.Path(root, n), true)
          swept = true
        }
      }
      if (swept) invalidate()
    }

    /** The reader-grace boundary: batch of the newest RETIRED base —
      * the tier [[finalizeCommit]] retains — or `Long.MinValue` while
      * no compaction has superseded a base yet. State snapshots at or
      * above this batch must be retained too (a reader pairs a store
      * resolution with the state snapshot of the same committed batch;
      * sweeping either half breaks it). */
    def graceFloor: Long = {
      val (_, baseBatch, _) = layout
      dirNames
        .filter(n => n.startsWith("base_") && !n.endsWith(".tmp"))
        .map(parseBatch).filter(_ < baseBatch)
        .sorted.lastOption.getOrElse(Long.MinValue)
    }

    /** Eagerly reclaim the STORE half of the reader-grace tier: delete
      * every dir the current effective base supersedes (what
      * [[finalizeCommit]] retains for in-flight readers). Deliberately
      * NOT public: sweeping only this half strands state snapshots
      * whose store dirs are gone — they would pass [[viewAt]]'s
      * retention check and then die inside the store layout with a
      * misleading missing-base error. The only public reclaim door is
      * the object-level [[IndexMaintenanceStream.vacuum]], which sweeps
      * BOTH halves so a later `viewAt` below the boundary fails fast
      * with the retention-window message it promises. */
    private[streaming] def vacuum(): Long = {
      val (hfs, root) = fs
      val (base, baseBatch, _) = layout
      var swept = false
      dirNames.foreach { n =>
        val stale = n != base &&
          (n.endsWith(".tmp") ||
            (n.startsWith("base_") && parseBatch(n) < baseBatch) ||
            (n.startsWith("delta_b") && parseBatch(n) <= baseBatch))
        if (stale) {
          hfs.delete(new org.apache.hadoop.fs.Path(root, n), true)
          swept = true
        }
      }
      if (swept) invalidate()
      baseBatch
    }
  }

  /** Seed the layout: the base corpus indexed and stamped generation 0,
    * plus the initial state (stats for a stats-keeping door) — and, for
    * a quantizer-carrying door, the frozen tables themselves
    * (`state/quantizer`), so a restarted JVM reconstructs the door from
    * [[loadQuantizer]] and every later [[applyBatch]]/[[viewAt]] can
    * fail fast on a mismatched door instead of silently re-keying. */
  def bootstrap(spark: SparkSession, door: Maintenance.Door, dir: String,
                writer: (DataFrame, String, String) => Unit,
                docs: DataFrame): Unit = {
    // a re-bootstrap may install a different door (different row shape)
    // under the same root — drop the cached schema before the new base
    // lands so the next resolution re-infers from it
    invalidateStoreSchema(s"$dir/store")
    // ONE pass over the corpus for a stats-keeping door: indexWithStats
    // shares the parse (BM25's tokenization rides a lazy checkpoint the
    // base write materializes; the stats snap then reads the blocks
    // back) — index(docs) + statsDelta(docs) tokenized the corpus TWICE
    // per bootstrap. Stats-free doors compose the same two calls as
    // before (statsDelta = None), bit-identical either way.
    val (baseRows, baseStats) = door.indexWithStats(docs)
    writer(door.stamp(baseRows, 0L), s"$dir/store/base_boot",
      "overwrite")
    DocsStream.swapPointer(spark, s"$dir/store", "base_boot")
    val st = Maintenance.initialState(spark, door, baseStats)
    // the door's quantizer hash rides in the snapshot's meta (and in
    // every later batch's — applyBatch re-stamps it), so the identity
    // check rides the state read every apply/view already pays; the
    // full tables also persist as their own file for loadQuantizer
    // initialState's tombstone table is the zero-row frame by
    // construction — skip its parquet write (one Spark write action per
    // bootstrapped store; loadState rebuilds the empty frame meta-side)
    Maintenance.saveState(st, s"$dir/state/v_boot", quantizerProps(door),
      tombstonesKnownEmpty = true)
    door.quantizer.foreach { q =>
      Maintenance.Quantizer.save(spark, quantizerPath(dir), q)
    }
    DocsStream.swapPointer(spark, s"$dir/state", "v_boot")
  }

  /** Apply ONE mutation micro-batch — idempotent on replay. `batch`
    * carries an `op` column plus the door's payload columns; update
    * rows of a stats-keeping door must also carry the superseded
    * version (extracted by `oldVersion`, e.g.
    * `u => u.select(col("doc_id"), col("old_text").as("text"))`).
    * `writer` must execute exactly ONE Spark action over the frame it
    * is handed (every canonical family writer does — see the contract
    * note at [[VersionedStore.append]]; a zero-action writer degrades
    * to keep-the-dir, never a hang). */
  def applyBatch(spark: SparkSession, door: Maintenance.Door, dir: String,
                 writer: (DataFrame, String, String) => Unit,
                 batch: DataFrame, batchId: Long,
                 oldVersion: Option[DataFrame => DataFrame] = None,
                 compactThresholdBytes: Long = 10L << 20,
                 maxDeltas: Int = 16,
                 maxDeltaBytesRatio: Double = 1.0,
                 knownDeltaEmpty: Option[Boolean] = None): Unit = {
    val applied = DocsStream.readPointer(spark, s"$dir/state")
    val store = new VersionedStore(spark, s"$dir/store", writer, batchId,
      maxDeltas, maxDeltaBytesRatio)
    if (applied.contains(s"v_b$batchId")) {
      // replay of a done batch: the tick is skipped whole, but a crash
      // between the state commit and the deferred store housekeeping
      // leaves a committed compaction unswept — finish it here (the
      // identity check rides the committed snapshot's meta)
      requireQuantizerMatch(door, Option(readStateProps(spark,
        s"$dir/state/v_b$batchId").getProperty("quantizerHash")), dir)
      store.finalizeCommit()
      return
    }
    val (st, stProps) = Maintenance.loadStateWithProps(spark,
      s"$dir/state/${applied.getOrElse(sys.error(
        s"no CURRENT state under $dir/state — bootstrap first"))}")
    requireQuantizerMatch(door,
      Option(stProps.getProperty("quantizerHash")), dir)
    val payload = batch.columns.filter(_ != "op").map(col).toSeq
    def part(op: String) =
      batch.where(col("op") === op).select(payload: _*)
    val updates = part("update")
    // a delete-only batch (the normal shape of a retention-enforcement
    // feed) appends nothing — a caller that KNOWS the batch's op census
    // says so (`knownDeltaEmpty`: Some(true) asserts NO add/update rows
    // — violating that loses the rows; Some(false) asserts some may be
    // present — always safe) and the probe job disappears; otherwise
    // one short-circuiting delta-sized probe (limit 1 stops at the
    // first add/update row) and the tick skips the delta write job
    // whole: no empty parquet write, no delta dir to drop (r14 paid a
    // full write-then-probe per such batch)
    val deltaEmpty = knownDeltaEmpty.getOrElse(
      batch.where(col("op").isin("add", "update"))
        .limit(1).count() == 0L)
    // checkpoint = identity: the tick's default eager localCheckpoint
    // of the tombstone union costs one job per batch to truncate a
    // lineage that HERE never accumulates — this batch's tombstones are
    // persisted by saveState and the next batch reloads them as a
    // parquet scan, so the union tower the checkpoint guards against
    // (the in-memory FrameStore soak shape) cannot form. The
    // saveState write walks the one-batch lineage once —
    // delta/tombstone-sized.
    val st2 = Maintenance.tick(door, store, st,
      adds = part("add"), deletes = part("delete"), updates = updates,
      updatesOld = oldVersion.map(f => f(updates)),
      compactThresholdBytes = compactThresholdBytes,
      checkpoint = identity,
      deltaEmpty = deltaEmpty,
      deferCompaction = true)
    // persist the snapshot FIRST: the compaction trigger's tombstone
    // count is OBSERVED inside this same write action (guide §1.4 —
    // one action carries both numbers), so a non-compacting batch (the
    // overwhelmingly common case) pays ONE state write and NO separate
    // compactNeeded count() job. The decision is the tick's own
    // two-sided trigger on the identical count; a fired trigger stages
    // the rewrite and RE-SNAPSHOTS the post-compaction state (empty
    // tombstones ride the meta — no second parquet write) before the
    // pointer swap. The commit point is unchanged: a crash anywhere
    // in between replays the whole batch from the pre-batch state.
    val snapDir = s"$dir/state/v_b$batchId"
    val qProps = quantizerProps(door)
    val observed = Maintenance.saveState(st2, snapDir, qProps)
    val needCompact = (if (observed >= 0)
        graft.pipeline.Dedup.compactNeededFromCount(
          observed, compactThresholdBytes)
      else // observation timed out — degrade to the counting form
        graft.pipeline.Dedup.compactNeeded(
          st2.tombstones, compactThresholdBytes)) ||
      store.fragmented
    if (needCompact) {
      store.rewrite(door.applyTombstones(store.rows, st2.tombstones))
      val cleared = st2.copy(
        tombstones = Maintenance.emptyTombstones(spark, door),
        compactions = st2.compactions + 1)
      Maintenance.saveState(cleared, snapDir, qProps,
        tombstonesKnownEmpty = true)
      // the superseded tombstone rows are unreachable (the meta now
      // says tombEmpty) — drop the dir rather than strand it
      val sp = new org.apache.hadoop.fs.Path(s"$snapDir/tombstones")
      sp.getFileSystem(spark.sessionState.newHadoopConf())
        .delete(sp, true)
    }
    DocsStream.swapPointer(spark, s"$dir/state", s"v_b$batchId")
    // ---- committed. Everything below is housekeeping a crash may
    // skip and a replay (or the next batch) re-runs.
    // State retention follows the store's READER GRACE: a reader pairs
    // the state snapshot of some committed batch with that batch's
    // store dirs, so snapshots at or above the grace floor (the newest
    // retired base's batch) stay until the next compaction advances
    // the floor — bounded by the same size-tiered trigger that bounds
    // the delta dirs, and state-sized (tombstones + 1 stats row) each.
    val floor = store.graceFloor
    val stRoot = new org.apache.hadoop.fs.Path(s"$dir/state")
    val hfs = stRoot.getFileSystem(spark.sessionState.newHadoopConf())
    hfs.listStatus(stRoot).foreach { s0 =>
      val n = s0.getPath.getName
      if (s0.isDirectory && n.startsWith("v") && n != s"v_b$batchId" &&
          parseBatch(n) < floor) hfs.delete(s0.getPath, true)
    }
    store.finalizeCommit()
  }

  /** The tailer: one [[applyBatch]] per micro-batch. */
  def mutationStream(mutations: DataFrame, door: Maintenance.Door,
                     dir: String,
                     writer: (DataFrame, String, String) => Unit,
                     checkpointDir: String,
                     oldVersion: Option[DataFrame => DataFrame] = None,
                     compactThresholdBytes: Long = 10L << 20,
                     maxDeltas: Int = 16,
                     maxDeltaBytesRatio: Double = 1.0)
      : StreamingQuery =
    mutations.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, id: Long) =>
        applyBatch(b.sparkSession, door, dir, writer, b, id, oldVersion,
          compactThresholdBytes, maxDeltas, maxDeltaBytesRatio)
        ()
      }
      .start()

  /** The committed serving view: tombstone-filtered live rows (only
    * deltas the state pointer admits — an in-flight batch is
    * invisible) plus the door's stats, ready for
    * `Bm25Index.search` / `VectorLeg.Ivf` /
    * `Dedup.incrementalDedup`. */
  def currentView(spark: SparkSession, door: Maintenance.Door,
                  dir: String): (DataFrame, Option[DataFrame]) = {
    val v = DocsStream.readPointer(spark, s"$dir/state").getOrElse(
      sys.error(s"no CURRENT state under $dir/state"))
    viewAt(spark, door, dir, parseBatch(v))
  }

  /** EAGER reclaim of BOTH halves of the reader-grace tier — the store
    * dirs the effective base supersedes AND the state snapshots below
    * the new retention boundary. The two halves must be swept together
    * ([[applyBatch]]'s retention invariant): a surviving state snapshot
    * whose store dirs are gone would pass [[viewAt]]'s retention check
    * and then die inside the store layout with a misleading
    * missing-base error; after this sweep `viewAt` below the returned
    * boundary fails fast with the retention-window message it
    * promises (spec-pinned). CONTRACT: caller asserts no reader — not
    * an in-flight serving query holding a pre-compaction view, nor a
    * time-travel reader at a batch below the boundary — is alive; the
    * sweep cannot verify that and does not try. Returns the boundary
    * (the effective base's batch — the oldest batch still servable). */
  def vacuum(spark: SparkSession, dir: String): Long = {
    val committed = committedBatch(spark, dir)
    val store = new VersionedStore(spark, s"$dir/store",
      (_, _, _) => sys.error("vacuum never writes"), committed)
    val boundary = store.vacuum()
    val stRoot = new org.apache.hadoop.fs.Path(s"$dir/state")
    val hfs = stRoot.getFileSystem(spark.sessionState.newHadoopConf())
    hfs.listStatus(stRoot).foreach { s0 =>
      val n = s0.getPath.getName
      if (s0.isDirectory && n.startsWith("v") && parseBatch(n) < boundary)
        hfs.delete(s0.getPath, true)
    }
    boundary
  }

  /** The SCHEDULED-REBUILD door — what every frozen-quantizer doc
    * points at when drift accumulates (watch it with
    * `profile_corpus_drift` over cell occupancies): rebuild a NEW
    * store under NEW frozen tables from the FULL-VECTOR store's
    * committed view. The vector store is the only tier that can fund
    * this (codes cannot re-encode themselves), which is exactly why
    * the deployment triple keeps it; the new door may be any tier —
    * re-seeded IVF, a PQ/residual code store (tier migration), or SQ8.
    * One honest corpus-sized read + index + write — the cost every
    * per-batch O(delta) claim amortizes against; the OLD store keeps
    * serving throughout (this writes only under `newDir`, quantizer
    * file included, so the new door's identity is persisted and
    * hash-checked from batch 0).
    *
    * Returns the committed batch the rebuild captured — the `asOf`
    * that [[cutover]] (the operator that finishes the migration under
    * a live feed: replay `asOf+1..head`, park, drain, repoint) takes
    * to know where replay starts. */
  def reseed(spark: SparkSession, vecDoor: Maintenance.Door,
             vecDir: String, newDoor: Maintenance.Door, newDir: String,
             writer: (DataFrame, String, String) => Unit): Long = {
    val asOf = committedBatch(spark, vecDir)
    val (view, _) = viewAt(spark, vecDoor, vecDir, asOf)
    bootstrap(spark, newDoor, newDir, writer,
      view.select(col("nid").as("vec_id"), col("ne").as("embedding")))
    asOf
  }

  /** The serving-pointer value [[cutover]] parks the feed on while it
    * closes the window: a feed that reads this instead of a store dir
    * WAITS (polls) until the pointer resolves — see the feed contract
    * on [[cutover]]. */
  val CutoverSentinel = "CUTOVER_IN_PROGRESS"

  /** CUTOVER — the operator that finishes what [[reseed]] starts,
    * under a feed that KEEPS WRITING. `reseed` captured the old
    * store's view at `asOf` into `newDir`; batches `asOf+1..head` (and
    * any the feed lands while we work) must replay into the new store
    * before serving repoints, and the hand-rolled version loses a
    * batch exactly when the feed advances the old head between the
    * caller's last replay and its repoint (the r17 contract's named
    * hazard). The protocol closes it with a bounded pause instead of
    * dual-writing the new store:
    *
    *  1. CHASE: replay `max(newHead, asOf)+1 .. oldHead` into
    *     `newDir`, re-reading the old head until caught up — the feed
    *     still writes the old store, so this loop converges to within
    *     one in-flight batch;
    *  2. PARK: swap the serving pointer at `servingDir` to
    *     [[CutoverSentinel]] — the feed observes it before its next
    *     batch and waits;
    *  3. GRACE: wait until the old head has been STABLE for
    *     `graceMs` — the one batch the feed may have started before
    *     observing the sentinel commits inside this window (every
    *     commit resets the stability clock, so grace only needs to
    *     exceed the feed's max batch duration, not the backlog);
    *  4. FINAL DRAIN: replay the remainder — no writer races this
    *     (the feed is parked, so the new store has exactly one
    *     writer, and no new old-bound batch can start);
    *  5. REPOINT: swap the serving pointer to `newDir`; the feed
    *     resumes there.
    *
    * FEED CONTRACT (what the spec drives): the feed is sequential,
    * reads the serving pointer BEFORE starting each batch, applies to
    * the dir the pointer names (with that dir's door), and polls while
    * the pointer reads the sentinel; `graceMs` must exceed the feed's
    * maximum batch duration. `fetch(b)` returns the same mutation
    * payload the feed applied as batch `b` — the replayable-log
    * contract every Structured Streaming source already meets
    * (replay by offset); for a batch id the feed never committed
    * (possible only when its numbering does not start at 0) it must
    * return an EMPTY frame, because the drain walks every id in
    * `asOf+1..head` — a fetch that fabricates rows for such ids
    * corrupts the new store (the spec's first draft did exactly
    * that). Replay into the new store is idempotent
    * ([[applyBatch]]'s batch-id skip), so a crashed cutover is
    * recovered by RE-RUNNING it: a re-run finds the sentinel (or the
    * already-swapped pointer — then it returns immediately) and
    * completes the remaining phases.
    *
    * Returns the new store's committed head at repoint. Cost: the
    * replayed batches' own O(delta) ticks plus one corpus-free pause
    * of at most `graceMs` + one batch duration. */
  def cutover(spark: SparkSession, newDoor: Maintenance.Door,
              newDir: String, oldDir: String,
              writer: (DataFrame, String, String) => Unit,
              fetch: Long => DataFrame, servingDir: String, asOf: Long,
              oldVersion: Option[DataFrame => DataFrame] = None,
              graceMs: Long = 5000, pollMs: Long = 25,
              knownDeltaEmpty: Long => Option[Boolean] = _ => None)
      : Long = {
    val cur = DocsStream.readPointer(spark, servingDir)
    // a replay of a COMPLETED cutover is a no-op (crash after phase 5)
    if (cur.contains(newDir)) return committedBatch(spark, newDir)
    require(cur.contains(oldDir) || cur.contains(CutoverSentinel),
      s"$servingDir must point at the old store ($oldDir) or the " +
        s"cutover sentinel before cutover, found $cur")
    def head(dir: String): Long = committedBatch(spark, dir)
    def drainTo(h: Long): Unit = {
      var b = math.max(head(newDir), asOf) + 1
      while (b <= h) {
        // the replayed batch's op census is the FEED's knowledge
        // (`fetch(b)` is its log): a feed that knows batch b carried no
        // add/update rows passes the hint through and the replay skips
        // the delta-empty probe job — same contract as applyBatch's
        applyBatch(spark, newDoor, newDir, writer, fetch(b), b,
          oldVersion, knownDeltaEmpty = knownDeltaEmpty(b))
        b += 1
      }
    }
    // 1. chase the live backlog
    var h = head(oldDir)
    while (math.max(head(newDir), asOf) < h) { drainTo(h); h = head(oldDir) }
    // 2. park the feed
    DocsStream.swapPointer(spark, servingDir, CutoverSentinel)
    // 3. grace: old head stable for graceMs
    var lastH = head(oldDir)
    var stableSince = System.nanoTime()
    while (System.nanoTime() - stableSince < graceMs * 1000000L) {
      Thread.sleep(pollMs)
      val h2 = head(oldDir)
      if (h2 != lastH) { lastH = h2; stableSince = System.nanoTime() }
    }
    // 4. final drain — single-writer by construction
    drainTo(lastH)
    // 5. repoint; the parked feed resumes on the new store
    DocsStream.swapPointer(spark, servingDir, newDir)
    head(newDir)
  }

  /** The newest batch this store's state pointer has committed (-1 =
    * bootstrap only). The cross-store consistency primitive: two
    * stores fed by the same mutation stream serve a CONSISTENT pair
    * through [[viewAt]] at `min(committedBatch(a), committedBatch(b))`
    * — a batch that landed in one store but not yet the other is
    * invisible to both sides of a fused answer. */
  def committedBatch(spark: SparkSession, dir: String): Long =
    parseBatch(DocsStream.readPointer(spark, s"$dir/state").getOrElse(
      sys.error(s"no CURRENT state under $dir/state")))

  /** TIME TRAVEL: the committed serving view AS OF `batchId` (-1 = the
    * bootstrap). Reconstructable for exactly the batches whose state
    * snapshot the reader-grace retention still holds — every batch
    * since the grace floor (the newest retired base), i.e. at least
    * one full compaction cycle back from the head. Outside the window
    * the state snapshot is swept and this fails fast with the
    * retention boundary in the message, never a partial answer. The
    * store side needs no checks of its own: version resolution by
    * listing serves the newest base ≤ `batchId` plus its committed
    * deltas, and those dirs outlive their state snapshot by
    * construction (the same sweep retires both, state first). */
  def viewAt(spark: SparkSession, door: Maintenance.Door, dir: String,
             batchId: Long): (DataFrame, Option[DataFrame]) = {
    val v = if (batchId < 0L) "v_boot" else s"v_b$batchId"
    val statePath = new org.apache.hadoop.fs.Path(s"$dir/state/$v")
    val hfs = statePath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!hfs.exists(statePath)) {
      val retained = hfs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/state")).toSeq
        .map(_.getPath.getName).filter(_.startsWith("v"))
        .sortBy(parseBatch)
      sys.error(s"batch $batchId is outside the retention window " +
        s"under $dir/state (retained: ${retained.mkString(", ")}) — " +
        "either never committed or swept past the reader-grace floor")
    }
    val (st, stProps) =
      Maintenance.loadStateWithProps(spark, s"$dir/state/$v")
    // identity check on the SAME meta read the state load pays: a
    // foreign JVM's re-bootstrap/re-seed rewrote the snapshots with the
    // new tables' hash, so a stale door fails here on its next view —
    // no per-JVM cache to go stale (the r17 shape's hazard)
    requireQuantizerMatch(door,
      Option(stProps.getProperty("quantizerHash")), dir)
    val store = new VersionedStore(spark, s"$dir/store",
      (_, _, _) => sys.error("serving view never writes"), batchId)
    (st.live(door, store), st.stats)
  }
}
