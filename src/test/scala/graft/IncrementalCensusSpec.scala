package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.{IncrementalCensus, Suggestions}
import graft.ingest.EditLogSource

/** [[IncrementalCensus]] — census(S′) = census(S) + Δ, exactly. */
class IncrementalCensusSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  private def snap = graft.inodes.InodeView.inodes(spark, dir)

  test("fold over adds, deletes, AND modifications equals the full " +
      "census, bit for bit") {
    val asOf = graft.inodes.InodeView.NowMs
    val s0 = snap.cache()
    // delta: delete every 17th file, modify every 23rd (size grows,
    // access bumps — moves rows ACROSS size and age classes), create
    // clones of every 31st under /incoming
    val delId = col("isFile") && pmod(col("id"), lit(17L)) === 0
    val modId = col("isFile") && pmod(col("id"), lit(23L)) === 0 &&
      !(pmod(col("id"), lit(17L)) === 0)
    val newRows = s0.where(col("isFile") && pmod(col("id"), lit(31L)) === 0)
      .withColumn("id", col("id") + 10000000L)
      .withColumn("path", concat(lit("/incoming"), col("path")))
      .withColumn("fileSize", col("fileSize") + 999L)
    val modNew = s0.where(modId)
      .withColumn("fileSize", col("fileSize") * 2 + 1500000L)
      .withColumn("accessTime", lit(asOf - 3L * 365 * 86400000L))
    val removed = s0.where(delId || modId)
    val added = modNew.unionByName(newRows)
    val sPrime = s0.where(!(delId || modId))
      .unionByName(modNew).unionByName(newRows)

    val prev = Suggestions.cachedValues(s0, asOf)
    val folded = IncrementalCensus
      .fold(prev, removed, added, sPrime, asOf).head()
    val full = Suggestions.cachedValues(sPrime, asOf).head()
    assert(folded.schema.fieldNames.toSeq === full.schema.fieldNames.toSeq)
    folded.schema.fieldNames.zipWithIndex.foreach { case (f, i) =>
      assert(folded.getLong(i) === full.getLong(i), s"metric $f drifted")
    }
    // sanity: the delta actually moved size and age classes
    assert(folded.getAs[Long]("numFiles") !==
      prev.head().getAs[Long]("numFiles"))
    assert(folded.getAs[Long]("oldFiles2yr") >
      prev.head().getAs[Long]("oldFiles2yr"))
    s0.unpersist()
  }

  test("per-user fold equals the full per-user recompute, including " +
      "users created and emptied by the delta") {
    val asOf = graft.inodes.InodeView.NowMs
    val s0 = snap.cache()
    // delete EVERY file of one user (they must vanish from the map),
    // move another user's files to a brand-new user (who must appear)
    val victim = s0.where(col("isFile")).select("user").head().getString(0)
    val delCond = col("isFile") && col("user") === victim
    val modCond = col("isFile") && pmod(col("id"), lit(13L)) === 0 &&
      col("user") =!= victim
    val modNew = s0.where(modCond).withColumn("user", lit("u_brand_new"))
    val removed = s0.where(delCond || modCond)
    val added = modNew
    val sPrime = s0.where(!(delCond || modCond)).unionByName(modNew)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> r.toSeq.drop(1).toList).toMap
    val folded = asMap(IncrementalCensus.foldUserMaps(
      Suggestions.cachedUserMaps(s0, asOf), removed, added, asOf))
    val full = asMap(Suggestions.cachedUserMaps(sPrime, asOf))
    assert(folded === full)
    assert(!folded.contains(victim), "emptied user must drop from the map")
    assert(folded.contains("u_brand_new"), "new user must appear")
    s0.unpersist()
  }

  test("empty delta folds to the previous census unchanged") {
    val asOf = graft.inodes.InodeView.NowMs
    val prev = Suggestions.cachedValues(snap, asOf)
    val empty = snap.where(lit(false))
    val folded = IncrementalCensus.fold(prev, empty, empty, snap, asOf)
    assert(folded.head().toSeq === prev.head().toSeq)
  }

  test("folds compose: two chained delta cycles equal the full census " +
      "of the final namespace") {
    val asOf = graft.inodes.InodeView.NowMs
    val s0 = snap.cache()
    // cycle 1: delete a slice
    val del1 = col("isFile") && pmod(col("id"), lit(11L)) === 0
    val s1 = s0.where(!del1)
    val c1 = IncrementalCensus.fold(
      Suggestions.cachedValues(s0, asOf), s0.where(del1),
      s0.where(lit(false)), s1, asOf)
    // cycle 2 FOLDS ON TOP OF c1 (a folded census is a valid prev):
    // grow a different slice
    val mod2 = col("isFile") && pmod(col("id"), lit(7L)) === 0 && !del1
    val modNew = s1.where(mod2)
      .withColumn("fileSize", col("fileSize") + 2000000L)
    val s2 = s1.where(!mod2).unionByName(modNew)
    val c2 = IncrementalCensus.fold(c1, s1.where(mod2), modNew, s2, asOf)
    assert(c2.head().toSeq ===
      Suggestions.cachedValues(s2, asOf).head().toSeq)
    s0.unpersist()
  }

  test("touchedPredicate covers every row an edit-log replay changes") {
    val ops = EditLogSource.ops(spark, IngestQueries.EditLogPath)
    val before = graft.inodes.InodeView
      .snapshot(spark, s"oivxml:${IngestQueries.XmlPath}")
    val after = EditLogSource.applyEdits(before, ops)
    val pred = IncrementalCensus.touchedPredicate(ops)
    // rows OUTSIDE the predicate must be identical before and after on
    // the replay-maintained columns — i.e. the predicate is a complete
    // cover of the change set (supersets are fine; misses are not)
    val cols = Seq("id", "path", "isFile", "user", "permission",
      "accessTime", "modTime", "fileSize", "numBlocks", "fileReplica")
    def outside(df: org.apache.spark.sql.DataFrame) = df.where(!pred)
      .select(cols.map(col): _*)
      .collect().map(r => r.getAs[Long]("id") -> r.toSeq.toList).toMap
    val ob = outside(before)
    val oa = outside(after)
    assert(ob === oa, "a changed row escaped the touched predicate")
    // and the predicate selects a proper subset (ops-bounded by
    // construction — the mini fixture's 30 ops deliberately touch much
    // of its 44-inode namespace, so only strictness is asserted here)
    val touched = before.where(pred).count()
    assert(touched > 0L && touched < before.count())
  }

  test("two chained edit-log segments: fold-per-cycle equals the full " +
      "census after each replay (the production loop)") {
    val asOf = graft.inodes.InodeView.NowMs
    val allOps = EditLogSource.ops(spark, IngestQueries.EditLogPath)
    val ops1 = allOps.where(col("txid") <= 11)
    val ops2 = allOps.where(col("txid") >= 12)
    val s0 = graft.inodes.InodeView
      .snapshot(spark, s"oivxml:${IngestQueries.XmlPath}")
    var census = Suggestions.cachedValues(s0, asOf)
    var cur = s0
    for (ops <- Seq(ops1, ops2)) {
      val next = EditLogSource.applyEdits(cur, ops)
      val pred = IncrementalCensus.touchedPredicate(ops)
      census = IncrementalCensus.fold(
        census, cur.where(pred), next.where(pred), next, asOf)
      val full = Suggestions.cachedValues(next, asOf).head()
      val folded = census.head()
      IncrementalCensus.fileMetricNames(census).zipWithIndex.foreach {
        case (f, i) => assert(folded.getLong(i) === full.getLong(i),
          s"metric $f drifted after this cycle")
      }
      cur = next
    }
  }

  test("live tail: census folds per streamed micro-batch and lands on " +
      "the full recompute of the final namespace") {
    // segment roll at txid 11/12 like EditLogSpec's tail case, but the
    // consumer is the INCREMENTAL census: each published batch folds its
    // touchedPredicate slices — the namespace is never rescanned
    val asOf = graft.inodes.InodeView.NowMs
    val xml = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(IngestQueries.EditLogPath)), "UTF-8")
    val records = xml.split("(?=  <RECORD>)").toSeq
    val head = records.head
    val (body, tailRecs) = records.filter(_.contains("<RECORD>"))
      .partition { r =>
        val t = "<TXID>(\\d+)</TXID>".r.findFirstMatchIn(r).get.group(1).toLong
        t <= 11
      }
    val segDir = java.nio.file.Files.createTempDirectory("censeg")
    def writeSeg(name: String, recs: Seq[String]): Unit =
      java.nio.file.Files.write(segDir.resolve(name),
        (head + recs.mkString.stripSuffix("</EDITS>\n") + "</EDITS>\n")
          .getBytes("UTF-8"))
    // segment 1 lands before the query starts; segment 2 only after the
    // first micro-batch is fully processed (explicit batch boundary —
    // AvailableNow would coalesce both files into one batch)
    writeSeg("seg_0000001.xml", body.map(_.replace("</EDITS>", "")))
    val s0 = graft.inodes.InodeView
      .snapshot(spark, s"oivxml:${IngestQueries.XmlPath}")
    var prev = s0
    var census = Suggestions.cachedValues(prev, asOf)
      .localCheckpoint(true)
    var batches = 0
    val q = EditLogSource.tailWithOps(spark, s0, segDir.toString,
      (snap, ops) => {
        val pred = IncrementalCensus.touchedPredicate(ops)
        census = IncrementalCensus.fold(census,
          prev.where(pred), snap.where(pred), snap, asOf)
          .localCheckpoint(true)
        prev = snap
        batches += 1
      }, availableNow = false)
    q.processAllAvailable()
    writeSeg("seg_0000012.xml", tailRecs)
    q.processAllAvailable()
    q.stop()
    assert(batches === 2, s"expected one fold per segment, got $batches")
    val folded = census.head()
    val full = Suggestions.cachedValues(prev, asOf).head()
    IncrementalCensus.fileMetricNames(census).zipWithIndex.foreach {
      case (f, i) =>
        assert(folded.getLong(i) === full.getLong(i), s"metric $f drifted")
    }
  }

  test("incremental cycle over the edit-log fixture matches the full " +
      "census of the replayed namespace (file metrics)") {
    val asOf = graft.inodes.InodeView.NowMs
    val ops = EditLogSource.ops(spark, IngestQueries.EditLogPath)
    val before = graft.inodes.InodeView
      .snapshot(spark, s"oivxml:${IngestQueries.XmlPath}")
    val after = EditLogSource.applyEdits(before, ops)
    val pred = IncrementalCensus.touchedPredicate(ops)
    val prev = Suggestions.cachedValues(before, asOf)
    val folded = IncrementalCensus
      .fold(prev, before.where(pred), after.where(pred), after, asOf).head()
    val full = Suggestions.cachedValues(after, asOf).head()
    IncrementalCensus.fileMetricNames(prev).zipWithIndex.foreach {
      case (f, i) =>
        assert(folded.getLong(i) === full.getLong(i), s"metric $f drifted")
    }
  }
}
