package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.FsImageSource
import graft.inodes.InodeView

class IngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val locator = s"oiv:${IngestQueries.DumpPath}"
  lazy val inodes = InodeView.snapshot(spark, locator)

  test("ingested frame has the exact InodeView schema") {
    assert(inodes.columns.toSeq === InodeView.columns)
    val expect = InodeView.snapshot(spark, "/root/testdata/sf0.001").schema
      .map(f => f.name -> f.dataType)
    // an edit-log replay publishes the same relation as an ingested image
    val replayed = graft.ingest.EditLogSource.applyEdits(
      InodeView.snapshot(spark, s"oivxml:${IngestQueries.XmlPath}"),
      graft.ingest.EditLogSource.ops(spark, IngestQueries.EditLogPath))
    for (df <- Seq(inodes, replayed))
      assert(df.schema.map(f => f.name -> f.dataType) === expect)
  }

  test("path split: root, name, parent, depth") {
    val root = inodes.where(col("path") === "/").head()
    assert(root.getAs[Long]("depth") === 0L)
    assert(root.getAs[String]("name") === "/")
    assert(root.isNullAt(root.fieldIndex("parent")))
    assert(!root.getAs[Boolean]("isFile"))
    val d = inodes.where(col("path") === "/data/raw/2024").head()
    assert(d.getAs[String]("name") === "2024")
    assert(d.getAs[String]("parent") === "/data/raw")
    assert(d.getAs[Long]("depth") === 3L)
    val top = inodes.where(col("path") === "/data").head()
    assert(top.getAs[String]("parent") === "/")
    assert(top.getAs[Long]("depth") === 1L)
  }

  test("permission parse: octal, sticky bit, ACL flag") {
    val tmp = inodes.where(col("path") === "/tmp").head()
    // drwxrwxrwt: the sticky bit is the thousands digit (reference
    // renders toOctalString(permShort) → 1777), t implies the x bit
    assert(tmp.getAs[Long]("permission") === 1777L)
    assert(
      inodes.where(col("permission") === 644L && col("isFile")).count() > 0)
    // '+' suffix rows carry hasAcl and still parse their mode
    val acl = inodes.where(col("hasAcl"))
    assert(acl.count() > 0)
    assert(acl.where(col("permission") === 644L).count() === acl.count())
  }

  test("times parse at minute resolution as UTC epoch ms") {
    val d = inodes.where(col("path") === "/data").head()
    assert(d.getAs[Long]("modTime") === 1675240200000L) // 2023-02-01 08:30 UTC
    assert(d.getAs[Long]("accessTime") === 0L)          // dirs: epoch 0
  }

  test("quota columns: flags from dump, usage recomputed from the tree") {
    val data = inodes.where(col("path") === "/data").head()
    assert(data.getAs[Boolean]("hasQuota"))
    assert(data.getAs[Long]("nsQuota") === 5000L)
    // /data subtree: raw, clean, raw/2024, raw/2025 dirs + files below
    val descendants = inodes.where(col("path").startsWith("/data/")).count()
    assert(data.getAs[Long]("nsQuotaUsed") === descendants + 1)
    // ds usage = sum of descendant fileSize * replication
    val ds = inodes
      .where(col("path").startsWith("/data/") && col("isFile"))
      .agg(sum(col("fileSize") * col("fileReplica"))).head().getLong(0)
    assert(data.getAs[Long]("dsQuotaUsed") === ds)
    // ds-only quota dir also flags
    assert(inodes.where(col("path") === "/data/clean").head()
      .getAs[Boolean]("hasQuota"))
    // files never carry quota
    assert(inodes.where(col("isFile") && col("hasQuota")).count() === 0)
  }

  test("dirNumChildren counts direct children only; empty dir is 0") {
    val got = inodes.where(!col("isFile"))
      .select("path", "dirNumChildren").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("/empty") === 0L)
    assert(got("/data") === 2L)      // raw, clean
    assert(got("/data/raw") === 2L)  // 2024, 2025
    val rootChildren = inodes.where(col("parent") === "/").count()
    assert(got("/") === rootChildren)
  }

  test("every NNA query runs against the ingested namespace") {
    // the whole operator inventory, pointed at a real-namespace locator
    // instead of the synthetic fixture — must plan and execute.
    // nna_token_users reads the delegation-token (events) table, not the
    // inode set, so an inode-only namespace locator doesn't apply to it.
    val skip = Set("nna_token_users")
    val failures = NNAQueries.queries.toSeq.sortBy(_._1)
      .filterNot(q => skip(q._1)).flatMap {
      case (name, q) =>
        try { q(spark, locator).collect(); None }
        catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("malformed dump rows parse permissively to nulls, never crash") {
    // a row with too few columns and one with a non-numeric size: Spark's
    // CSV PERMISSIVE default nulls the broken fields; derivations carry
    // the nulls through and aggregates simply exclude them (SQL semantics)
    val dir = java.nio.file.Files.createTempDirectory("graft-oiv-bad-")
    val tsv = dir.resolve("bad.tsv")
    java.nio.file.Files.writeString(tsv,
      "Path\tReplication\tModificationTime\tAccessTime\tPreferredBlockSize" +
      "\tBlocksCount\tFileSize\tNSQUOTA\tDSQUOTA\tPermission\tUserName\tGroupName\n" +
      "/ok\t3\t2024-01-01 00:00\t2024-01-01 00:00\t134217728\t1\t100\t0\t0\t-rw-r--r--\tu\tg\n" +
      "/short-row\t1\n" +
      "/bad-size\t3\t2024-01-01 00:00\t2024-01-01 00:00\t134217728\t1\tNOTANUMBER\t0\t0\t-rw-r--r--\tu\tg\n")
    val df = graft.ingest.FsImageSource.inodes(spark, tsv.toString)
    assert(df.count() === 3) // nothing dropped silently
    val bySize = df.select("path", "fileSize").collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(bySize("/ok") === Some(100L))
    assert(bySize("/bad-size") === None)
    // aggregates still run; the good row's value survives
    assert(df.agg(sum("fileSize")).head().getLong(0) === 100L)
  }

  test("export to parquet and reload via inodes: locator, bit-identical") {
    val out = java.nio.file.Files.createTempDirectory("graft-inodes-").toString
    graft.ingest.FsImageSource.exportParquet(spark, IngestQueries.DumpPath, out)
    val reloaded = InodeView.snapshot(spark, s"inodes:$out")
    assert(reloaded.columns.toSeq === InodeView.columns)
    assert(reloaded.count() === inodes.count())
    // full-row equivalence both directions
    assert(reloaded.exceptAll(inodes).isEmpty && inodes.exceptAll(reloaded).isEmpty)
    // pruning/pushdown reach the parquet scan on the reloaded namespace
    val plan = reloaded.where(col("isFile") && col("fileSize") > 0)
      .select("path", "fileSize").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(isFile)") ||
      plan.contains("InMemoryTableScan")) // snapshot cache may serve it
  }

  test("under-quota ancestry spans 3 levels (quota at depth 1, files at 4)") {
    val under = graft.engine.PathStructure
      .underQuota(inodes, "nsQuota").where(col("isFile"))
    // every file under /data (depth-1 quota) or /user/alice (depth-2)
    val expect = inodes.where(col("isFile") &&
      (col("path").startsWith("/data/") || col("path").startsWith("/user/alice/")))
    assert(under.count() === expect.count())
    assert(under.count() > 0)
  }

  test("binary fsimage full decode equals the XML ingest, row for row") {
    // the two front doors describe the same namespace (same flat ground
    // truth, tools/gen_fsimage_{xml,bin}.py) — every derived field must
    // agree on every inode, including string-table permission unpack,
    // block aggregation, quota usage and snapshot membership
    val viaXml = graft.ingest.FsImageXmlSource
      .inodes(spark, IngestQueries.XmlPath)
      .collect().map(r => r.getLong(r.fieldIndex("id")) -> r.toSeq).toMap
    val viaBin = graft.ingest.FsImageBinary
      .inodes(spark, IngestQueries.BinPath)
      .collect().map(r => r.getLong(r.fieldIndex("id")) -> r.toSeq).toMap
    assert(viaBin.keySet === viaXml.keySet)
    viaXml.foreach { case (id, xmlRow) =>
      assert(viaBin(id) === xmlRow, s"inode $id differs")
    }
    assert(viaXml.size === 45)
  }

  test("real-Hadoop sections are tolerated, never ingested as inodes") {
    // the fixtures carry the sections a Hadoop-produced image has beyond
    // the four the engine models: SNAPSHOT_DIFF (whose XML created-lists
    // contain name-only <inode> stubs), INODE_REFERENCE, SECRET_MANAGER,
    // CACHE_MANAGER, ERASURE_CODING, real packed ACL entries, xattr
    // features, and STRIPED blockType on EC files. None of it may leak
    // into the inode set or shift a decoded field.
    val secs = graft.ingest.FsImageBinary
      .readSummary(IngestQueries.BinPath).sections
    val names = secs.map(_.name)
    assert(Seq("NS_INFO", "FILES_UNDERCONSTRUCTION", "SNAPSHOT_DIFF",
      "INODE_REFERENCE", "SECRET_MANAGER",
      "CACHE_MANAGER", "ERASURE_CODING").forall(names.contains), names)
    // the fixture's PHYSICAL layout mirrors the genuine saver
    // (FSImageFormatProtobuf.Saver.saveInternal): NS_INFO first,
    // STRING_TABLE last — decoding must go through the FileSummary
    // index, so a decoder that assumed the string table precedes the
    // inodes in the byte stream fails here before it fails on a real
    // image
    val byOffset = secs.sortBy(_.offset).map(_.name)
    assert(byOffset.head === "NS_INFO", byOffset)
    assert(byOffset.last === "STRING_TABLE", byOffset)
    assert(byOffset.indexOf("ERASURE_CODING") < byOffset.indexOf("INODE"),
      byOffset)
    val viaXml = graft.ingest.FsImageXmlSource
      .inodes(spark, IngestQueries.XmlPath)
    assert(viaXml.count() === 45) // diff-section ghost stubs dropped
    assert(viaXml.where(col("name").startsWith("ghost_")).count() === 0)
    // ACL presence decoded from REAL packed entries; EC policy ids from
    // files that also carry blockType
    assert(viaXml.where(col("hasAcl")).count() > 0)
    assert(graft.ingest.FsImageBinary.inodes(spark, IngestQueries.BinPath)
      .where(col("hasEcPolicy") && col("ecPolicyId").isin(1L, 2L, 5L))
      .count() === 3)
  }

  test("binary decode equals the XML ingest across 50 randomized physical layouts") {
    // the genuine-Hadoop-image run is sandbox-blocked (no MiniDFSCluster/
    // hdfs CLI), so the same risk is attacked from the fixture side:
    // tools/gen_fsimage_bin.py --seed randomizes every layout degree of
    // freedom the real saver (or a future layout version) has — body
    // section order, index entry order, string-table serial assignment
    // (non-contiguous), inode record order, protobuf field order inside
    // the INode messages, dir-entry order, interleaved UNKNOWN sections,
    // and (about half the seeds) SECTION COMPRESSION with gzip or zlib —
    // the FileSummary codec field, exactly FSImageFormatProtobuf's
    // compressed layout. The decoder must produce the identical
    // namespace on all of them; any layout it can't handle is a found
    // bug.
    import scala.sys.process._
    assume("python3 --version".!(ProcessLogger(_ => ())) == 0,
      "python3 unavailable — cannot drive the layout generator")
    val expected = graft.ingest.FsImageXmlSource
      .inodes(spark, IngestQueries.XmlPath)
      .collect().map(r => r.getLong(r.fieldIndex("id")) -> r.toSeq).toMap
    val dir = java.nio.file.Files.createTempDirectory("rand-fsimage")
    val gen = "/root/repo/tools/gen_fsimage_bin.py"
    val flat = IngestQueries.XmlFlatPath
    val bad = (1 to 50).flatMap { seed =>
      val out = dir.resolve(s"seed_$seed.bin").toString
      val rc = Seq("python3", gen, flat, out, "--seed", seed.toString)
        .!(ProcessLogger(_ => ()))
      if (rc != 0) Some(s"seed $seed: generator failed rc=$rc")
      else {
        val got = graft.ingest.FsImageBinary.inodes(spark, out)
          .collect().map(r => r.getLong(r.fieldIndex("id")) -> r.toSeq).toMap
        if (got == expected) None
        else {
          val extra = got.keySet -- expected.keySet
          val missing = expected.keySet -- got.keySet
          val diff = expected.keys.filter(k =>
            got.get(k).exists(_ != expected(k))).take(3)
          Some(s"seed $seed: extra=$extra missing=$missing " +
            s"firstDiffs=${diff.map(k => s"$k: ${got(k)} vs ${expected(k)}")}")
        }
      }
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("binary fsimage spike: summary + INODE section parse by field number") {
    // hand-rolled protobuf writer (varints only) building a minimal
    // uncompressed fsimage in the public container layout; the reader
    // must recover the section index and every inode stub
    val bos = new java.io.ByteArrayOutputStream()
    def varint(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    def field(out: java.io.ByteArrayOutputStream, no: Int, wire: Int): Unit =
      varint(out, (no << 3) | wire)
    def bytesField(out: java.io.ByteArrayOutputStream, no: Int, b: Array[Byte]): Unit = {
      field(out, no, 2); varint(out, b.length); out.write(b)
    }
    def uintField(out: java.io.ByteArrayOutputStream, no: Int, v: Long): Unit = {
      field(out, no, 0); varint(out, v)
    }
    // INODE section: header {lastInodeId=1, numInodes=2} + 3 inode stubs
    val inodes = Seq((16385L, "", 2), (16386L, "data", 2), (16400L, "f0.parquet", 1))
    val sec = new java.io.ByteArrayOutputStream()
    val hdr = new java.io.ByteArrayOutputStream()
    uintField(hdr, 1, 16400L); uintField(hdr, 2, inodes.size.toLong)
    varint(sec, hdr.size.toLong); hdr.writeTo(sec)
    inodes.foreach { case (id, name, tpe) =>
      val m = new java.io.ByteArrayOutputStream()
      uintField(m, 1, tpe.toLong); uintField(m, 2, id)
      bytesField(m, 3, name.getBytes("UTF-8"))
      varint(sec, m.size.toLong); m.writeTo(sec)
    }
    bos.write(graft.ingest.FsImageBinary.Magic)
    val secOffset = bos.size.toLong
    sec.writeTo(bos)
    // FileSummary {ondisk=1, layout=-66 is negative; use readUInt32 range:
    // write layout as its unsigned varint} + one Section entry
    val sb = new java.io.ByteArrayOutputStream()
    uintField(sb, 1, 1L); uintField(sb, 2, 0xffffffffL - 65) // -66 as uint32
    val se = new java.io.ByteArrayOutputStream()
    bytesField(se, 1, "INODE".getBytes("UTF-8"))
    uintField(se, 2, sec.size.toLong); uintField(se, 3, secOffset)
    bytesField(sb, 4, se.toByteArray)
    val delimited = new java.io.ByteArrayOutputStream()
    varint(delimited, sb.size.toLong); sb.writeTo(delimited)
    delimited.writeTo(bos)
    val lenBuf = java.nio.ByteBuffer.allocate(4).putInt(delimited.size)
    bos.write(lenBuf.array())
    val f = java.nio.file.Files.createTempFile("fsimage", ".bin")
    java.nio.file.Files.write(f, bos.toByteArray)

    val summary = graft.ingest.FsImageBinary.readSummary(f.toString)
    assert(summary.ondiskVersion === 1)
    assert(summary.sections === Seq(
      graft.ingest.FsImageBinary.Section("INODE", secOffset, sec.size.toLong)))
    val (n, stubs) = graft.ingest.FsImageBinary.readInodes(f.toString)
    assert(n === 3)
    assert(stubs.map(s => (s.id, s.name, s.isFile)) === Seq(
      (16385L, "", false), (16386L, "data", false), (16400L, "f0.parquet", true)))
  }

  test("XML path reconstruction: deep chains, orphans dropped, empty root name") {
    import spark.implicits._
    // a 12-deep directory chain plus an orphan inode nobody links to
    val n = 12
    val inodes = ((1L, "DIRECTORY", "") +:
      (2 to n).map(i => (i.toLong, "DIRECTORY", s"d$i")) :+
      (99L, "FILE", "orphan.bin")).toDF("id", "type", "name")
    val links = (2 to n).map(i => ((i - 1).toLong, i.toLong))
      .toDF("parentId", "id")
    val got = graft.ingest.FsImageXmlSource
      .resolvePaths(spark, inodes, links)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got(1L) === (("/", 0L)))
    assert(got(2L) === (("/d2", 1L)))
    assert(got(n.toLong) === (((2 to n).map(i => s"d$i").mkString("/", "/", ""),
      (n - 1).toLong)))
    // an orphan is also "nobody's child", but only the unparented
    // DIRECTORY with the empty name is the root — orphans drop out
    assert(!got.contains(99L), "orphans (unreachable from root) are excluded")
  }

  // -------------------------------------------------------------------
  // Negative binary-decode cases: the genuine loader
  // (FSImageFormatProtobuf) fails loudly on a damaged image; each class
  // of damage must be a diagnosable error here too, never a partial
  // namespace. The images are hand-built varint-by-varint so each test
  // controls exactly one defect.
  // -------------------------------------------------------------------

  /** Minimal fsimage builder: magic + one INODE section + FileSummary
    * trailer. `declaredNumInodes` and `sectionLenAdjust` let a test
    * plant a specific disagreement. */
  private def buildBinImage(inodes: Seq[(Long, String, Boolean)],
                            declaredNumInodes: Long,
                            sectionLenAdjust: Int = 0,
                            codec: Option[String] = None): Array[Byte] = {
    import java.io.ByteArrayOutputStream
    def vint(o: ByteArrayOutputStream, v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { o.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      o.write(v.toInt)
    }
    def key(o: ByteArrayOutputStream, field: Int, wire: Int): Unit =
      vint(o, (field << 3) | wire)
    def msg(build: ByteArrayOutputStream => Unit): Array[Byte] = {
      val b = new ByteArrayOutputStream(); build(b); b.toByteArray
    }
    def delim(o: ByteArrayOutputStream, bytes: Array[Byte]): Unit = {
      vint(o, bytes.length); o.write(bytes)
    }
    val header = msg { h => key(h, 2, 0); vint(h, declaredNumInodes) }
    val section = msg { s =>
      delim(s, header)
      inodes.foreach { case (id, name, isFile) =>
        delim(s, msg { m =>
          key(m, 1, 0); vint(m, if (isFile) 1 else 2)
          key(m, 2, 0); vint(m, id)
          key(m, 3, 2); delim(m, name.getBytes("UTF-8"))
        })
      }
    }
    val magic = graft.ingest.FsImageBinary.Magic
    val sectionEntry = msg { se =>
      key(se, 1, 2); delim(se, "INODE".getBytes("UTF-8"))
      key(se, 2, 0); vint(se, section.length + sectionLenAdjust)
      key(se, 3, 0); vint(se, magic.length)
    }
    val summaryMsg = msg { sm =>
      key(sm, 1, 0); vint(sm, 1)          // ondiskVersion
      key(sm, 2, 0); vint(sm, 100)        // layoutVersion
      codec.foreach { c => key(sm, 3, 2); delim(sm, c.getBytes("UTF-8")) }
      key(sm, 4, 2); delim(sm, sectionEntry)
    }
    val out = new ByteArrayOutputStream()
    out.write(magic); out.write(section)
    val delimited = msg { d => delim(d, summaryMsg) } // writeDelimitedTo
    out.write(delimited)
    out.write(java.nio.ByteBuffer.allocate(4).putInt(delimited.length).array())
    out.toByteArray
  }

  private def writeTmp(bytes: Array[Byte]): String = {
    val f = java.nio.file.Files.createTempFile("fsimage_neg", ".bin")
    java.nio.file.Files.write(f, bytes)
    f.toString
  }

  test("negative decode: a truncated image fails with a diagnosis, " +
      "not a partial namespace") {
    val whole = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(IngestQueries.BinPath))
    // tail chopped (the summary lives there — the common torn-transfer shape)
    val t60 = writeTmp(whole.take((whole.length * 6) / 10))
    val e1 = intercept[IllegalArgumentException] {
      graft.ingest.FsImageBinary.readSummary(t60)
    }
    assert(e1.getMessage.toLowerCase.matches(".*(truncat|corrupt).*"),
      e1.getMessage)
    // shorter than magic + trailer floor
    val tTiny = writeTmp(whole.take(9))
    val e2 = intercept[IllegalArgumentException] {
      graft.ingest.FsImageBinary.readSummary(tTiny)
    }
    assert(e2.getMessage.contains("too short"), e2.getMessage)
  }

  test("negative decode: corrupt section lengths fail loudly both ways") {
    val base = Seq((16385L, "a", true), (16386L, "bb", true),
      (16387L, "ccc", false))
    // declared length SHORT: decode EOFs mid-inode with progress context
    val short = writeTmp(buildBinImage(base, 3, sectionLenAdjust = -4))
    val e1 = intercept[IllegalArgumentException] {
      graft.ingest.FsImageBinary.readInodes(short)
    }
    assert(e1.getMessage.contains("decode failed after"), e1.getMessage)
    // declared length LONG: the section index no longer fits the file —
    // readSummary itself refuses
    val long = writeTmp(buildBinImage(base, 3, sectionLenAdjust = +64))
    val e2 = intercept[IllegalArgumentException] {
      graft.ingest.FsImageBinary.readSummary(long)
    }
    assert(e2.getMessage.contains("extends outside"), e2.getMessage)
  }

  test("negative decode: summary/section numInodes disagreement fails " +
      "in both directions") {
    val base = Seq((16385L, "a", true), (16386L, "bb", true),
      (16387L, "ccc", false))
    // fewer declared than serialized — the silent-partial hazard
    val under = writeTmp(buildBinImage(base, declaredNumInodes = 2))
    val e1 = intercept[IllegalArgumentException] {
      graft.ingest.FsImageBinary.readInodes(under)
    }
    assert(e1.getMessage.contains("beyond the declared numInodes"),
      e1.getMessage)
    // more declared than serialized — EOF with progress context
    val over = writeTmp(buildBinImage(base, declaredNumInodes = 5))
    val e2 = intercept[IllegalArgumentException] {
      graft.ingest.FsImageBinary.readInodes(over)
    }
    assert(e2.getMessage.contains("after 3 of 5"), e2.getMessage)
  }

  test("negative decode: an unknown codec refuses to mis-decode") {
    val img = buildBinImage(Seq((16385L, "a", true)), 1,
      codec = Some("com.hadoop.compression.lzo.LzoCodec"))
    val p = writeTmp(img)
    // the summary itself is never compressed — it must still parse
    val s = graft.ingest.FsImageBinary.readSummary(p)
    assert(s.codec.exists(_.contains("Lzo")))
    val e = intercept[IllegalArgumentException] {
      graft.ingest.FsImageBinary.readInodes(p)
    }
    assert(e.getMessage.contains("unsupported fsimage codec"), e.getMessage)
  }
}
