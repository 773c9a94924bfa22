package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.EditLogSource

/** Edit-log ingestion + distributed replay (S4 between-snapshot
  * freshness). The oracle twin of these checks is `nna_editlog_{ops,
  * apply}` against DuckDB; here the apply is additionally compared to
  * the sequential-replay post-state CSV read back directly, plus the
  * pointed cases that motivated the chunked design.
  */
class EditLogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ops = EditLogSource.ops(spark, IngestQueries.EditLogPath)
  private def applied = EditLogSource.applyEdits(
    graft.inodes.InodeView.snapshot(spark, s"oivxml:${IngestQueries.XmlPath}"),
    ops)

  test("ops parse: every record typed, opcodes and txids intact") {
    val rows = ops.collect()
    assert(rows.length === 30)
    assert(rows.map(_.getAs[Long]("txid")).sorted.toSeq === (1L to 30L))
    // concat: TRG lands in path, numbered SOURCES children in srcs
    val cat = rows.find(_.getAs[String]("opcode") == "OP_CONCAT_DELETE").get
    assert(cat.getAs[String]("path") === "/data/raw/2024/f007.log")
    assert(cat.getAs[Seq[String]]("srcs") ===
      Seq("/data/raw/2024/f000.parquet", "/data/raw/2024/f014"))
    val byOp = rows.groupBy(_.getAs[String]("opcode")).view.mapValues(_.length)
    assert(byOp("OP_ADD") === 5 && byOp("OP_CLOSE") === 5)
    assert(byOp("OP_RENAME_OLD") === 4 && byOp("OP_DELETE") === 1)
    // MODE decimal→octal-triad: 493 → 755
    val mk = rows.find(r => r.getAs[String]("opcode") == "OP_MKDIR" &&
      r.getAs[String]("path") == "/data/raw/2026").get
    assert(mk.getAs[Long]("permission") === 755L)
    assert(mk.getAs[Long]("inodeId") === 16500L)
    // CLOSE block aggregation: two blocks sum
    val close = rows.find(r => r.getAs[String]("opcode") == "OP_CLOSE" &&
      r.getAs[String]("path") == "/data/raw/2026/feb.log").get
    assert(close.getAs[Long]("fileSize") === 34500000L)
    assert(close.getAs[Long]("numBlocks") === 2L)
  }

  test("distributed chunked apply equals the sequential replay, row for row") {
    val got = applied.select("id", "path", "isFile", "user", "group",
        "permission", "accessTime", "modTime", "fileSize", "blockSize",
        "numBlocks", "fileReplica", "storagePolicyId",
        "isUnderConstruction", "nsQuota", "dsQuota")
      .collect().map(r => r.getAs[Long]("id") -> r.toSeq.toList).toMap
    val expected = spark.read.option("header", "true")
      .csv(IngestQueries.EditLogPostCsv)
      .select(col("id").cast("long"), col("path"),
        col("is_file").cast("boolean").as("isFile"),
        col("usr").as("user"), col("grp").as("group"),
        col("perm").cast("long").as("permission"),
        col("atime_ms").cast("long").as("accessTime"),
        col("mtime_ms").cast("long").as("modTime"),
        col("file_size").cast("long").as("fileSize"),
        col("block_size").cast("long").as("blockSize"),
        col("num_blocks").cast("long").as("numBlocks"),
        col("replication").cast("long").as("fileReplica"),
        col("storage_policy").cast("long").as("storagePolicyId"),
        col("is_uc").cast("boolean").as("isUnderConstruction"),
        col("ns_quota").cast("long").as("nsQuota"),
        col("ds_quota").cast("long").as("dsQuota"))
      .collect().map(r => r.getAs[Long]("id") -> r.toSeq.toList).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (id, row) =>
      assert(got(id) === row, s"inode $id")
    }
  }

  test("streaming tail: per-segment micro-batches converge on the replay state") {
    // split the fixture segment in two at txid 11/12 (segment roll); the
    // tail must apply each file as its own micro-batch and end at the
    // same state as the one-shot batch apply
    val xml = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(IngestQueries.EditLogPath)), "UTF-8")
    val records = xml.split("(?=  <RECORD>)").toSeq
    val head = records.head // prolog + <EDITS> + version, before any RECORD
    val (body, tailRecs) = records.filter(_.contains("<RECORD>"))
      .partition { r =>
        val t = "<TXID>(\\d+)</TXID>".r.findFirstMatchIn(r).get.group(1).toLong
        t <= 11
      }
    val dir = java.nio.file.Files.createTempDirectory("editseg")
    def writeSeg(name: String, recs: Seq[String]): Unit =
      java.nio.file.Files.write(dir.resolve(name),
        (head + recs.mkString.stripSuffix("</EDITS>\n") + "</EDITS>\n")
          .getBytes("UTF-8"))
    writeSeg("seg_0000001.xml", body.map(_.replace("</EDITS>", "")))
    writeSeg("seg_0000012.xml", tailRecs)
    var published = List.empty[org.apache.spark.sql.DataFrame]
    val q = EditLogSource.tailWithOps(spark,
      graft.inodes.InodeView.snapshot(spark, s"oivxml:${IngestQueries.XmlPath}"),
      dir.toString, (snap, _) => published = snap :: published)
    q.awaitTermination()
    assert(published.nonEmpty)
    val got = published.head.select("id", "path").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = applied.select("id", "path").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === expected)
  }

  test("replay-drift audit: replayed state vs next image is empty; a " +
    "planted miss surfaces") {
    // the sequential-replay post CSV plays the role of the next fetched
    // image: zero drift rows means the distributed replay is exact
    val next = spark.read.option("header", "true")
      .csv(IngestQueries.EditLogPostCsv)
      .select(col("id").cast("long"), col("path"),
        col("usr").as("user"),
        expr("CASE WHEN path = '/' THEN NULL WHEN length(path) - length(replace(path, '/', '')) = 1 THEN '/' ELSE substring(path, 1, length(path) - length(regexp_extract(path, '[^/]*$', 0)) - 1) END").as("parent"),
        col("is_file").cast("boolean").as("isFile"),
        col("file_size").cast("long").as("fileSize"),
        col("mtime_ms").cast("long").as("modTime"),
        col("perm").cast("long").as("permission"),
        col("replication").cast("long").as("fileReplica"))
    assert(EditLogSource.replayDrift(applied, next).count() === 0L)
    // drop one op's effect from the "image": the drift audit names it
    val tampered = next.withColumn("fileReplica",
      when(col("path") === "/data/raw/2026/jan.log", lit(3L))
        .otherwise(col("fileReplica")))
    val drift = EditLogSource.replayDrift(applied, tampered).collect()
    assert(drift.length === 1)
    assert(drift.head.getAs[String]("path") === "/data/raw/2026/jan.log")
    assert(drift.head.getAs[String]("change") === "modified")
  }

  test("interleaving: creations bind to the path identity at their txid") {
    val byPath = applied.collect()
      .map(r => r.getAs[String]("path") -> r).toMap
    // subtree rename moved the OLD contents...
    assert(byPath.contains("/data/archive2025/f001.csv"))
    assert(!byPath.contains("/data/raw/2025/f001.csv"))
    // ...but the RECREATED dir and the file added after the rename stayed
    assert(byPath("/data/raw/2025").getAs[Long]("id") === 16503L)
    assert(byPath("/data/raw/2025/late.log").getAs[Long]("fileSize") === 777216L)
    // subtree delete removed dir + descendants; the parent survived
    assert(!byPath.keys.exists(_.startsWith("/snap/deep")))
    assert(byPath.contains("/snap"))
    // snapshot membership follows the tree: a file renamed out of the
    // snapshottable /snap loses the flag; a creation under it and a
    // subtree renamed into it gain it
    def snap(p: String) = byPath(p).getAs[Boolean]("isWithSnapshot")
    assert(snap("/snap") && !snap("/data/f020.parquet"))
    assert(snap("/snap/inbox") && snap("/snap/inbox/a.csv"))
    assert(snap("/snap/proj") && snap("/snap/proj/f004"))
    assert(!snap("/user/bob") && !snap("/data/raw/2025/late.log"))
    // file rename (no subtree)
    assert(byPath.contains("/tmp/renamed_f012.log"))
    assert(!byPath.contains("/tmp/f012.log"))
    // overwrite allocated a NEW inode id at the same path
    assert(byPath("/user/alice/f003.gz").getAs[Long]("id") === 16505L)
    // attribute patches landed: replication, owner, perms, times, quota
    assert(byPath("/data/raw/2026/jan.log").getAs[Long]("fileReplica") === 2L)
    assert(byPath("/data/clean").getAs[String]("user") === "carol")
    assert(byPath("/tmp").getAs[Long]("permission") === 1750L) // sticky kept
    assert(byPath("/user/alice").getAs[Long]("modTime") === 1735700500000L)
    assert(byPath("/user/bob").getAs[Long]("nsQuota") === 500L)
    // storage policy, truncate (size + mtime, blocks kept), append reopen
    assert(byPath("/data/clean/f002.log").getAs[Long]("storagePolicyId") === 7L)
    val tr = byPath("/data/clean/f023.gz")
    assert(tr.getAs[Long]("fileSize") === 1000000L)
    assert(tr.getAs[Long]("modTime") === 1735701600000L)
    assert(tr.getAs[Long]("numBlocks") === 3L)
    assert(byPath("/tmp/f019").getAs[Boolean]("isUnderConstruction"))
    // concat-delete: target absorbed both sources' bytes+blocks, srcs gone
    val cat = byPath("/data/raw/2024/f007.log")
    assert(cat.getAs[Long]("fileSize") === 17284725L + 5L + 51854160L)
    assert(cat.getAs[Long]("numBlocks") === 2L + 1L + 3L)
    assert(cat.getAs[Long]("modTime") === 1735701700000L)
    assert(!byPath.contains("/data/raw/2024/f000.parquet"))
    assert(!byPath.contains("/data/raw/2024/f014"))
  }

  test("durable tail: killed mid-stream, restart resumes from the " +
    "persisted snapshot without re-applying segments") {
    // split the fixture log in two segments at txid 11/12; run the
    // durable tail over segment 1 only, stop (the "kill"), then drop
    // segment 2 and RESTART with the same checkpoint — the final state
    // must equal the uninterrupted whole-log apply, and the restarted
    // run must process exactly one new batch (segment 1 not re-read)
    val xml = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(IngestQueries.EditLogPath)), "UTF-8")
    val records = xml.split("(?=  <RECORD>)").toSeq
    val head = records.head
    val (body, tailRecs) = records.filter(_.contains("<RECORD>"))
      .partition { r =>
        val t = "<TXID>(\\d+)</TXID>".r.findFirstMatchIn(r).get.group(1).toLong
        t <= 11
      }
    val dir = java.nio.file.Files.createTempDirectory("editseg-durable")
    val ckpt = java.nio.file.Files
      .createTempDirectory("editseg-ckpt").toString
    def writeSeg(name: String, recs: Seq[String]): Unit =
      java.nio.file.Files.write(dir.resolve(name),
        (head + recs.mkString.stripSuffix("</EDITS>\n") + "</EDITS>\n")
          .getBytes("UTF-8"))
    val initial = graft.inodes.InodeView
      .snapshot(spark, s"oivxml:${IngestQueries.XmlPath}")

    writeSeg("seg_0000001.xml", body.map(_.replace("</EDITS>", "")))
    var publishes1 = 0
    val q1 = EditLogSource.tailDurable(spark, initial, dir.toString, ckpt,
      _ => publishes1 += 1)
    q1.awaitTermination() // AvailableNow drains seg 1, then the "kill"
    assert(publishes1 >= 2) // initial publish + seg-1 batch

    writeSeg("seg_0000012.xml", tailRecs)
    var published = List.empty[org.apache.spark.sql.DataFrame]
    var publishes2 = 0
    val q2 = EditLogSource.tailDurable(spark, initial, dir.toString, ckpt,
      { snap => publishes2 += 1; published = snap :: published })
    q2.awaitTermination()
    // restart publishes the RECOVERED state once, then exactly ONE new
    // batch (segment 2); a third publish would mean seg 1 was re-read
    assert(publishes2 === 2, s"expected recover+1 batch, got $publishes2")

    val got = published.head.select("id", "path", "fileSize", "permission")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    val expected = applied.select("id", "path", "fileSize", "permission")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(got === expected, "restarted tail diverged from the " +
      "uninterrupted replay")

    // idle restart: nothing new — recovered state only, still equal
    var publishes3 = 0
    var last: org.apache.spark.sql.DataFrame = null
    val q3 = EditLogSource.tailDurable(spark, initial, dir.toString, ckpt,
      { snap => publishes3 += 1; last = snap })
    q3.awaitTermination()
    assert(publishes3 === 1)
    assert(last.select("id", "path", "fileSize", "permission").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap === expected)
  }

  test("durable tail: a re-delivered batch is not applied twice") {
    // foreachBatch is at-least-once — after a crash between the commit
    // marker and Spark's own batch commit, the SAME batch id is
    // re-delivered; the state must recognize it and skip the re-apply
    val ckpt = java.nio.file.Files
      .createTempDirectory("editseg-idem").toString
    val initial = graft.inodes.InodeView
      .snapshot(spark, s"oivxml:${IngestQueries.XmlPath}")
    val state = new EditLogSource.DurableTailState(spark, ckpt, initial)
    val once = state.applyBatch(0L, ops)
      .select("id", "path", "fileSize").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(state.lastCommitted === 0L)
    val twice = state.applyBatch(0L, ops)
      .select("id", "path", "fileSize").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(twice === once, "re-delivered batch changed the snapshot")
    assert(state.lastCommitted === 0L)
    // a NEW state over the same checkpoint recovers the committed batch
    val recovered = new EditLogSource.DurableTailState(spark, ckpt, initial)
    assert(recovered.lastCommitted === 0L)
    assert(recovered.current.select("id", "path", "fileSize").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet === once)
  }

  test("composeRename algebra: composed first-match rules equal " +
      "sequential rename application on randomized chains") {
    def seqApply(p: String, renames: Seq[(String, String)]): String =
      renames.foldLeft(p) { case (cur, (s, d)) =>
        if (cur == s) d
        else if (cur.startsWith(s + "/")) d + cur.drop(s.length)
        else cur
      }
    def ruleApply(p: String, rules: Seq[(String, String)]): String =
      rules.collectFirst {
        case (s, d) if p == s => d
        case (s, d) if p.startsWith(s + "/") => d + p.drop(s.length)
      }.getOrElse(p)
    val rnd = new scala.util.Random(20260814L)
    val segs = Vector("a", "b", "c", "x", "y")
    def randPath(): String =
      "/" + Seq.fill(1 + rnd.nextInt(3))(segs(rnd.nextInt(segs.size)))
        .mkString("/")
    for (trial <- 1 to 200) {
      val renames = Seq.fill(1 + rnd.nextInt(8)) {
        var (s, d) = (randPath(), randPath())
        while (d == s || d.startsWith(s + "/")) d = randPath() // no self-nest
        (s, d)
      }
      val rules = renames.foldLeft(Vector.empty[(String, String)]) {
        case (acc, (s, d)) => EditLogSource.composeRename(acc, s, d)
      }
      val paths = Vector.fill(60)(randPath()) ++
        Vector("/a", "/a/b/c/x/y", "/x/x/x", "/c/y")
      for (p <- paths)
        assert(ruleApply(p, rules) === seqApply(p, renames),
          s"trial $trial path $p renames $renames rules $rules")
    }
    // pointed cases: destination-subtree rewrite, split, swap-back
    val chain = Seq("/data" -> "/d1", "/d1/x" -> "/out", "/d1" -> "/d2")
    val r = chain.foldLeft(Vector.empty[(String, String)]) {
      case (acc, (s, d)) => EditLogSource.composeRename(acc, s, d)
    }
    assert(ruleApply("/data/x/f", r) === "/out/f")   // split: rode 2 renames
    assert(ruleApply("/data/y/f", r) === "/d2/y/f")  // remainder: rode 1st+3rd
    assert(ruleApply("/d1/q", r) === "/d2/q")        // pre-existing sibling
    val swap = Seq("/a" -> "/b", "/b" -> "/a")
      .foldLeft(Vector.empty[(String, String)]) {
        case (acc, (s, d)) => EditLogSource.composeRename(acc, s, d)
      }
    assert(ruleApply("/a/f", swap) === "/a/f" && ruleApply("/b/f", swap) === "/a/f")
  }

  test("mega-segment: a 1000-rename bulk re-organization replays with " +
      "bounded lineage and without per-empty-chunk merges") {
    import spark.implicits._
    val snap = graft.inodes.InodeView
      .snapshot(spark, s"oivxml:${IngestQueries.XmlPath}")
    // a Hive-partition-migration-shaped segment: /data renamed down a
    // 1000-step chain, with ONE mkdir landing mid-chain under the
    // directory's CURRENT name (pins chunk ordering + occupancy skip)
    val renames = (1 to 1000).map { i =>
      val src = if (i == 1) "/data" else s"/d${i - 1}"
      (2L * i, "OP_RENAME", src, s"/d$i", 1700000000000L + i)
    }
    val mkdir = Seq((1001L, "OP_MKDIR", "/d500/newdir", "", 1700000000500L))
    val ops = (renames ++ mkdir)
      .toDF("txid", "opcode", "path", "dst", "mtime")
      .withColumn("inodeId", lit(99000L))
      .withColumn("opUser", lit("u")).withColumn("opGroup", lit("g"))
      .withColumn("setUser", lit(null).cast("string"))
      .withColumn("setGroup", lit(null).cast("string"))
      .withColumn("permission", lit(755L))
      .withColumn("replication", lit(null).cast("long"))
      .withColumn("atime", lit(null).cast("long"))
      .withColumn("blockSize", lit(null).cast("long"))
      .withColumn("fileSize", lit(null).cast("long"))
      .withColumn("numBlocks", lit(null).cast("long"))
      .withColumn("nsQuota", lit(null).cast("long"))
      .withColumn("dsQuota", lit(null).cast("long"))
      .withColumn("policyId", lit(null).cast("long"))
      .withColumn("newLength", lit(null).cast("long"))
      .withColumn("overwrite", lit(false))
    val t0 = System.nanoTime()
    val out = EditLogSource.applyEdits(snap, ops)
    // bounded lineage: the plan after the last periodic localCheckpoint
    // carries at most the checkpoint stride of narrow projections, not
    // the full 1000-op chain (pre-fix this tree held >1000 Projects and
    // two joins per empty chunk)
    val planNodes = out.queryExecution.analyzed.collect { case p => p }.size
    assert(planNodes < 300,
      s"lineage not bounded: $planNodes analyzed nodes")
    val byPath = out.collect().map(r => r.getAs[String]("path") -> r).toMap
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"1000-rename replay: $secs%.1f s, $planNodes analyzed plan nodes")
    assert(secs < 240, f"replay took $secs%.1f s — not bounded")
    // the whole /data subtree ended under /d1000, nothing left behind
    assert(!byPath.keys.exists(p => p == "/data" || p.startsWith("/data/")))
    assert(byPath.contains("/d1000"))
    assert(byPath.keys.exists(_.startsWith("/d1000/raw/")))
    assert(!byPath.keys.exists(p => p.startsWith("/d500")))
    // the mid-chain mkdir bound to the name at ITS txid and rode the
    // remaining 500 renames
    val nd = byPath("/d1000/newdir")
    assert(nd.getAs[Long]("id") === 99000L)
    assert(!nd.getAs[Boolean]("isFile"))
    assert(nd.getAs[String]("parent") === "/d1000")
    // untouched subtrees untouched
    assert(byPath.contains("/tmp"))
  }
}
