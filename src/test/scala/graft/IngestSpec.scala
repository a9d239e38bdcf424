package graft

import java.io.ByteArrayOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.expr.ZipEntries
import org.scalatest.funsuite.AnyFunSuite

class IngestSpec extends AnyFunSuite {
  import SharedSpark.{spark, sf}

  private def zipOf(members: (String, String, Long)*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    members.foreach { case (name, content, mtime) =>
      val e = new ZipEntry(name)
      e.setTime(mtime)
      zos.putNextEntry(e)
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    zos.close()
    bos.toByteArray
  }

  test("zip_entries explodes members, flattens dirs, recovers mtimes") {
    val bytes = zipOf(
      ("a.txt", "hello", 1600000000000L),
      ("nested/deep/b.bin", "world!", 1650000000000L))
    val got = ZipEntries.extract(bytes)
    assert(got.map(_.name) === Seq("a.txt", "b.bin"))
    assert(got.map(_.size) === Seq(5L, 6L))
    assert(got.map(e => new String(e.content, "UTF-8")) === Seq("hello", "world!"))
    // zip dos-time is 2s-granular and tz-dependent; order must hold.
    assert(got(0).mtime < got(1).mtime)
  }

  test("zip_entries tolerates empty archives and null") {
    assert(ZipEntries.extract(zipOf()) === Seq.empty)
    assert(ZipEntries.extract(Array.emptyByteArray) === Seq.empty)
  }

  test("zip_entries explodes nested archives recursively, bounded depth") {
    val inner = zipOf(("deep.txt", "deep", 1600000000000L))
    val outerBytes = {
      val bos = new ByteArrayOutputStream()
      val zos = new ZipOutputStream(bos)
      val e = new ZipEntry("inner.zip")
      zos.putNextEntry(e); zos.write(inner); zos.closeEntry()
      val p = new ZipEntry("plain.txt")
      zos.putNextEntry(p); zos.write("plain".getBytes("UTF-8")); zos.closeEntry()
      zos.close()
      bos.toByteArray
    }
    val got = ZipEntries.extract(outerBytes)
    assert(got.map(_.name).sorted === Seq("deep.txt", "plain.txt"))
    // depth bound: a chain deeper than MaxDepth surfaces the remaining
    // archive as an opaque row instead of recursing forever
    val chain = (1 to ZipEntries.MaxDepth + 1).foldLeft(
      zipOf(("leaf.txt", "leaf", 1600000000000L))) { (z, i) =>
      val bos = new ByteArrayOutputStream()
      val zos = new ZipOutputStream(bos)
      val e = new ZipEntry(s"level$i.zip")
      zos.putNextEntry(e); zos.write(z); zos.closeEntry(); zos.close()
      bos.toByteArray
    }
    val deep = ZipEntries.extract(chain)
    assert(deep.size === 1)
    assert(deep.head.name.endsWith(".zip"),
      "over-deep archive must surface opaquely, not disappear")
  }

  test("ingest_e2e audit matches the pinned expectation") {
    val rows = SparkEntry.queries("ingest_e2e")(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.toSeq === Seq(
      ("log", 2L, 25L, "b.log|b_2.log"),
      ("none", 1L, 17L, "noext"),
      ("txt", 5L, 68L, "a.txt|data--.txt|deep.txt|dup_one.txt|report final.txt")))
  }

  test("Ingest.members explodes zip, tar and .TGZ members in one scan of the source") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.functions._
    import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
    def tarOf(members: (String, String)*): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val tos = new TarArchiveOutputStream(bos)
      members.foreach { case (name, text) =>
        val bytes = text.getBytes("UTF-8")
        val e = new TarArchiveEntry(name)
        e.setSize(bytes.length.toLong)
        e.setModTime(1650000000000L)
        tos.putArchiveEntry(e)
        tos.write(bytes)
        tos.closeArchiveEntry()
      }
      tos.close()
      bos.toByteArray
    }
    def gzip(bytes: Array[Byte]): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(bytes); gz.close()
      bos.toByteArray
    }
    val dir = new java.io.File(s"${Tables.scratchRoot}/members_fixture")
    Tables.deleteRecursively(dir)
    dir.mkdirs()
    Seq(
      "archive.zip" -> zipOf(("in/z1.txt", "zip member one", 1600000000000L),
        ("z2.log", "zip member two", 1600000100000L)),
      "BUNDLE.TGZ" -> gzip(tarOf("g/t1.txt" -> "tgz member", "t2.bin" -> "tgz bin")),
      "plain.tar" -> tarOf("p1.txt" -> "tar member"),
      "notes.txt" -> "plain text file".getBytes("UTF-8"),
      "noext" -> "no extension".getBytes("UTF-8"),
    ).foreach { case (name, bytes) =>
      java.nio.file.Files.write(new java.io.File(dir, name).toPath, bytes): Unit
    }
    val files = spark.read.format("graft.sources.RemoteFileSource")
      .option("urls", s"ftp://localhost:21${dir.getAbsolutePath}")
      .option("numPartitions", "2")
      .load()
      .select(col("file_name"), col("mtime_s").as("mtime"), col("size"),
        col("content"))
    // The union of filtered branches the dispatch replaced, one branch
    // per archive kind, written out as a reference.
    val name = lower(col("file_name"))
    val isZip = name.endsWith(".zip")
    val isTar = name.endsWith(".tar") || name.endsWith(".tar.gz") ||
      name.endsWith(".tgz")
    def branch(archives: DataFrame, entries: org.apache.spark.sql.Column): DataFrame =
      archives.select(explode(entries).as("m"))
        .select(col("m.name").as("file_name"), col("m.mtime").as("mtime"),
          col("m.size").as("size"), col("m.content").as("content"))
    val reference = files.where(!isZip && !isTar)
      .unionByName(branch(files.where(isZip),
        graft.expr.ZipEntries.zip_entries(col("content"))))
      .unionByName(branch(files.where(isTar),
        graft.expr.TarEntries.tar_entries(col("content"))))
    def rows(df: DataFrame): Seq[(String, Long, Long, Long)] =
      df.select(col("file_name"), col("mtime"), col("size"),
          crc32(col("content")).as("crc"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sorted
    def scans(df: DataFrame): Int = new AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }.size
    val got = ops.Ingest.members(files)
    val gotRows = rows(got)
    assert(gotRows === rows(reference))
    assert(gotRows.map(_._1).sorted === Seq("noext", "notes.txt", "p1.txt",
      "t1.txt", "t2.bin", "z1.txt", "z2.log"))
    val plain = got.where(col("file_name") === "notes.txt")
      .select("size", "content").head()
    assert(plain.getLong(0) === 15L &&
      new String(plain.getAs[Array[Byte]](1), "UTF-8") === "plain text file")
    assert(scans(got) === 1,
      s"one scan of the source:\n${got.queryExecution.executedPlan}")
    assert(scans(reference) === 3, "the branch union scans once per branch")
  }

  test("partition-pruned scan reads only the lang=en partition") {
    SparkEntry.queries("scan_partition_pruned")(spark, sf).count()
    val plan = ops.Ingest.partitionPrunedPlan(spark)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters: [isnotnull(lang"),
      s"expected partition filters in:\n$plan")
  }

  test("remote source never plans a content fetch when content is unused") {
    val fixture = ops.Ingest.buildFixture()
    val df = spark.read.format("graft.sources.RemoteFileSource")
      .option("urls", s"ftp://localhost:21$fixture").load()
      .select("file_name", "size")
    val plan = df.queryExecution.executedPlan.toString()
    assert(!plan.contains("content"),
      s"content column must be pruned out of the scan:\n$plan")
    // all 8 files listed, including the zero-byte one Spark's own file
    // index drops
    assert(df.count() === 8)
  }

  test("sink_fs_connector writes through the Hadoop FileSystem interface") {
    // The seam claim: every sink-side FS operation goes through
    // org.apache.hadoop.fs.FileSystem, so an object-store connector
    // (abfss://, s3a://) is a config change. Pin that the demonstrated
    // scheme resolves to the local connector implementation and that
    // the partitioned layout is visible THROUGH the interface.
    SparkEntry.queries("sink_fs_connector")(spark, sf).collect()
    val uri = new java.net.URI(s"file://${Tables.scratchRoot}/sink/fs_connector")
    val fs = org.apache.hadoop.fs.FileSystem
      .get(uri, spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem],
      s"file:// must resolve to the local Hadoop connector, got ${fs.getClass}")
    val table = new org.apache.hadoop.fs.Path(
      fs.makeQualified(new org.apache.hadoop.fs.Path(uri)), "documents")
    val langDirs = fs.listStatus(table).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("lang="))
    assert(langDirs.nonEmpty, "partition dirs must be listed through the FS API")
  }

  test("remote source dispatches by scheme and rejects unknown protocols") {
    val fixture = ops.Ingest.buildFixture()
    val e = intercept[Throwable] {
      spark.read.format("graft.sources.RemoteFileSource")
        .option("urls", s"gopher://host:70$fixture").load().count()
    }
    val messages = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(messages.contains("unsupported protocol"), messages)
  }

  test("remote source round-trips payload bytes intact") {
    val fixture = ops.Ingest.buildFixture()
    val rows = spark.read.format("graft.sources.RemoteFileSource")
      .option("urls", s"sftp://localhost:22$fixture").load()
      .where(org.apache.spark.sql.functions.col("file_name") === "dup_one.txt")
      .collect()
    assert(rows.length === 1)
    assert(new String(rows.head.getAs[Array[Byte]]("content"), "UTF-8")
      === "same content twice")
    assert(rows.head.getAs[String]("server_folder") === "localhost_22")
  }

  test("remote stream drains in batchSize micro-batches under AvailableNow") {
    val fixture = ops.Ingest.buildFixture()
    val ckptDir = new java.io.File(s"${Tables.scratchRoot}/stream/remote_spec")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(del)
      f.delete(): Unit
    }
    if (ckptDir.exists()) del(ckptDir)
    val st = spark.readStream.format("graft.sources.RemoteFileSource")
      .option("urls", s"ftp://localhost:21$fixture")
      .option("batchSize", "3")
      .load()
    val q = st.writeStream.format("memory").queryName("remote_spec_t")
      .outputMode("append")
      .option("checkpointLocation", s"$ckptDir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table("remote_spec_t").count() === 8)
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches >= 3,
      s"8 files at batchSize=3 must take >= 3 micro-batches, got $dataBatches")
  }

  test("remote stream is incremental across runs: only new files processed") {
    val fixture = ops.Ingest.buildFixture()
    val base = new java.io.File(s"${Tables.scratchRoot}/stream/remote_incr")
    def del(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(del)
      f.delete(): Unit
    }
    if (base.exists()) del(base)
    def runOnce(): Unit = {
      val st = spark.readStream.format("graft.sources.RemoteFileSource")
        .option("urls", s"ftp://localhost:21$fixture")
        .option("batchSize", "3")
        .load()
        .select("file_name", "size")
      val q = st.writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    assert(spark.read.parquet(s"$base/out").count() === 8)
    // between two cron-style runs a new file arrives, and b.log is
    // rewritten under the same name with a new size and a later mtime
    def put(name: String, text: String): java.io.File = {
      val f = new java.io.File(fixture, name)
      val o = new java.io.FileOutputStream(f)
      o.write(text.getBytes("UTF-8")); o.close()
      f
    }
    put("late.txt", "late arrival")
    val oldSize = new java.io.File(fixture, "b.log").length()
    put("b.log", "top-level log, rewritten").setLastModified(1700000600000L)
    runOnce()
    import org.apache.spark.sql.functions.col
    val out = spark.read.parquet(s"$base/out")
    assert(out.count() === 10,
      "second run must ingest ONLY the new file and the rewritten one")
    assert(out.where(col("file_name") === "late.txt").count() === 1)
    assert(out.where(col("file_name") === "b.log").select("size")
      .collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(oldSize, "top-level log, rewritten".length.toLong).sorted,
      "the rewritten b.log must be ingested once more, as its new version")
  }

  test("sink_compact merges the shattered input into target-size files") {
    val before = SparkEntry.queries("sink_compact")(spark, sf).collect()
    val (nSmall, nOut) = graft.ops.Ingest.compactFileCounts(spark, sf)
    assert(nSmall === 64, "stage 1 must shatter into 64 splits")
    // sf0.01 lineitem is ~1.5 MB on disk — one 8 MiB target file.
    assert(nOut === 1, s"expected 1 compacted file, got $nOut")
    // content-neutral: same rows either way (oracle checks vs source
    // table; here pin count over the compacted output)
    assert(before.map(_.getLong(1)).sum === 6000)
  }

  test("z-order tightens row-group ranges on BOTH dimensions; single sort only on its own") {
    SparkEntry.queries("sink_zorder")(spark, sf).count() // builds zorder/out
    val single = graft.ops.Ingest.writeSingleSorted(spark, sf)
    def meanSpanFrac(dir: String, colName: String): Double = {
      val ranges = graft.ops.Ingest.rowGroupRanges(spark, dir, colName)
      assert(ranges.nonEmpty, s"$dir has no row groups")
      val lo = ranges.map(_._1).min
      val hi = ranges.map(_._2).max
      ranges.map { case (a, b) => (b - a).toDouble / math.max(1L, hi - lo) }
        .sum / ranges.size
    }
    val zDir = s"${Tables.scratchRoot}/zorder/out"
    val zOrder = meanSpanFrac(zDir, "l_orderkey")
    val zPart = meanSpanFrac(zDir, "l_partkey")
    val sOrder = meanSpanFrac(single, "l_orderkey")
    val sPart = meanSpanFrac(single, "l_partkey")
    // single-column sort: its own column is tight, the OTHER is ~full
    assert(sOrder < 0.5, s"orderkey-sorted orderkey span $sOrder")
    assert(sPart > 0.8, s"orderkey-sorted partkey span $sPart (should be ~1)")
    // z-order: BOTH dimensions bounded — that is the whole point
    assert(zOrder < 0.75 && zPart < 0.75,
      s"z-order spans order=$zOrder part=$zPart (both must tighten)")
    assert(zPart < sPart,
      s"z-order must beat single-sort on the second dimension: $zPart vs $sPart")
  }

  test("dedup policies partition the input: semi + anti = all") {
    val semi = SparkEntry.queries("join_semi")(spark, sf).count()
    val anti = SparkEntry.queries("join_anti")(spark, sf).count()
    val all = Tables.t(spark, sf, "customer").count()
    assert(semi + anti === all)
  }

  test("tar parser matches commons-compress entry-for-entry; checksum tamper dies") {
    val dir = ops.Ingest.buildTarFixture()
    val gzBytes = java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "bundle.tar.gz").toPath)
    val gun = {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(gzBytes))
      try in.readAllBytes() finally in.close()
    }
    // reference reader: commons-compress (INDEPENDENT implementation),
    // recursing into inner.tar the same way the hand parser does
    import org.apache.commons.compress.archivers.tar.TarArchiveInputStream
    def ccParse(bytes: Array[Byte]): Seq[(String, Long, Long, Seq[Byte])] = {
      val t = new TarArchiveInputStream(new java.io.ByteArrayInputStream(bytes))
      val b = Seq.newBuilder[(String, Long, Long, Seq[Byte])]
      var e = t.getNextEntry
      while (e != null) {
        if (e.isFile) {
          val content = t.readAllBytes()
          val base = e.getName.split('/').last
          if (base.endsWith(".tar")) b ++= ccParse(content)
          else b += ((base, e.getModTime.getTime / 1000, e.getSize,
            content.toSeq))
        }
        e = t.getNextEntry
      }
      b.result()
    }
    val ref = ccParse(gun).sortBy(x => (x._1, x._4.hashCode))
    val mine = graft.expr.TarEntries.extract(gzBytes)
      .map(en => (en.name, en.mtime, en.size, en.content.toSeq))
      .sortBy(x => (x._1, x._4.hashCode))
    assert(mine === ref, "hand-rolled ustar parse must equal commons-compress")
    assert(mine.map(_._1).sorted ===
      Seq("a.txt", "b.bin", "c.txt", "d.txt", "d.txt"), "expected member set")
    // a flipped byte inside the first header's checksum field must die
    val bad = gun.clone()
    bad(150) = (bad(150) ^ 0x01).toByte
    intercept[IllegalArgumentException] {
      graft.expr.TarEntries.extract(bad)
    }
  }

  test("tar cut inside its last member fails loudly, naming the member") {
    import org.apache.commons.compress.archivers.tar.{TarArchiveEntry, TarArchiveOutputStream}
    val bos = new ByteArrayOutputStream()
    val tos = new TarArchiveOutputStream(bos)
    Seq("a.txt" -> 100, "b.txt" -> 100, "c.txt" -> 2000).foreach { case (n, len) =>
      val e = new TarArchiveEntry(n)
      e.setSize(len.toLong)
      tos.putArchiveEntry(e)
      tos.write(Array.fill[Byte](len)('x'.toByte))
      tos.closeArchiveEntry()
    }
    tos.close()
    val whole = bos.toByteArray
    assert(graft.expr.TarEntries.extract(whole).map(_.name) ===
      Seq("a.txt", "b.txt", "c.txt"))
    // a.txt and b.txt take one header and one data block each, so c.txt's
    // header sits at 2048 and its data at 2560 until 4560; cut at 3000
    val cut = java.util.Arrays.copyOf(whole, 3000)
    val ex = intercept[IllegalArgumentException] {
      graft.expr.TarEntries.extract(cut)
    }
    assert(ex.getMessage.contains("c.txt") && ex.getMessage.contains("offset 2048"),
      ex.getMessage)
  }
}
