package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, CreateFlag, FileContext,
  FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.fs.{GraftLocalFileSystem, GraftLocalFs}

/** The NIO-backed `file:` filesystem ([[graft.fs.GraftLocalFileSystem]],
  * [[graft.fs.GraftLocalFs]]) must return and leave on disk exactly what
  * the stock `file:` FileSystem and LocalFs do, and the session must
  * write without forking a shell. */
class LocalFsSpec extends AnyFunSuite {

  private def tempDir(): java.nio.file.Path = Files.createTempDirectory("localfs")

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode", java.nio.file.LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int] & 0xfff

  private def conf(umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** The class `file:` resolves to without the engine's setting: the
    * last one the jars register (Hive's ProxyLocalFileSystem, a
    * LocalFileSystem, when Hive is on the classpath). */
  private lazy val stockFsClass: Class[_ <: FileSystem] =
    FileSystem.getFileSystemClass("file", new Configuration())

  /** The stock and the NIO-backed FileSystem over `c`, uncached. */
  private def bothFs(c: Configuration): Seq[FileSystem] = Seq(
    stockFsClass.getDeclaredConstructor().newInstance(), new GraftLocalFileSystem()).map { fs =>
    fs.initialize(URI.create("file:///"), c); fs
  }

  /** The stock and the NIO-backed FileContext over `c`. */
  private def bothFc(c: Configuration): Seq[FileContext] =
    Seq(classOf[LocalFs], classOf[GraftLocalFs]).map { cls =>
      val cc = new Configuration(c)
      cc.set("fs.AbstractFileSystem.file.impl", cls.getName)
      FileContext.getFileContext(URI.create("file:///"), cc)
    }

  private def perm(octal: String): FsPermission =
    new FsPermission(Integer.parseInt(octal, 8).toShort)

  /** Runs `body` against the stock and the NIO-backed `impls`, each in a
    * fresh dir, and asserts both left the same modes under the same
    * relative paths and returned or threw alike. Returns the result. */
  private def same[F, R](impls: Seq[F])(
      body: (F, java.nio.file.Path) => R): Either[Class[_], R] = {
    val seen = impls.map { impl =>
      val d = tempDir()
      try {
        val r = Try(body(impl, d)).toEither.left.map {
          case e: org.scalatest.exceptions.TestFailedException => throw e
          case e => e.getClass
        }
        val files = Files.walk(d)
        val modes = try files.iterator.asScala.map(p => d.relativize(p).toString -> mode(p)).toMap
        finally files.close()
        (r, modes)
      } finally Tables.deleteRecursively(d.toFile)
    }
    assert(seen.head._2.size > 1, "the body wrote nothing")
    assert(seen(1) === seen.head)
    seen.head._1
  }

  test("create and mkdirs leave the stock modes under umask 022 and 077") {
    for (umask <- Seq("022", "077")) {
      same(bothFs(conf(umask))) { (fs, d) =>
        fs.mkdirs(new Path(s"$d/a/b/c"))
        val out = fs.create(new Path(s"$d/a/b/f.bin"))
        out.write(Array[Byte](1, 2, 3)); out.close()
      }
      same(bothFc(conf(umask))) { (fc, d) =>
        fc.mkdir(new Path(s"$d/a/b/c"), FsPermission.getDirDefault, true)
        val out = fc.create(new Path(s"file:$d/a/f.bin"),
          java.util.EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
        out.write(Array[Byte](1, 2, 3)); out.close()
      }
    }
  }

  test("explicit setPermission: 0600, 0750, a sticky 1777 dir and a setgid dir") {
    same(bothFs(conf())) { (fs, d) =>
      fs.mkdirs(new Path(s"$d/dir"))
      fs.mkdirs(new Path(s"$d/sticky"))
      fs.mkdirs(new Path(s"$d/setgid"))
      fs.create(new Path(s"$d/f")).close()
      fs.setPermission(new Path(s"$d/f"), perm("600"))
      fs.setPermission(new Path(s"$d/dir"), perm("750"))
      fs.setPermission(new Path(s"file:$d/sticky"), perm("1777"))
      // chmod with a four-digit mode keeps a directory's setgid bit
      val rc = new ProcessBuilder("chmod", "2775", s"$d/setgid").start().waitFor()
      assert(rc === 0)
      fs.setPermission(new Path(s"$d/setgid"), perm("750"))
    }
    val d = tempDir()
    try {
      val fs = bothFs(conf())(1)
      fs.mkdirs(new Path(s"$d/sticky"))
      fs.setPermission(new Path(s"$d/sticky"), perm("1777"))
      assert(mode(Paths.get(s"$d/sticky")) === Integer.parseInt("1777", 8))
      assert(Try(fs.setPermission(new Path(s"$d/missing"), perm("600"))).isFailure)
    } finally Tables.deleteRecursively(d.toFile)
  }

  test("FileSystem.rename onto a new name and onto an existing file") {
    assert(classOf[LocalFileSystem].isAssignableFrom(stockFsClass))
    val r = same(bothFs(conf())) { (fs, d) =>
      for (name <- Seq("a", "b", "c")) {
        val out = fs.create(new Path(s"$d/$name"))
        out.write(name.getBytes(UTF_8)); out.close()
      }
      val moved = fs.rename(new Path(s"$d/a"), new Path(s"$d/moved"))
      val onto = fs.rename(new Path(s"$d/b"), new Path(s"$d/c"))
      val in = fs.open(new Path(s"$d/c"))
      val c = try new String(in.readAllBytes(), UTF_8) finally in.close()
      (moved, onto, c, Files.exists(Paths.get(s"$d/.moved.crc")))
    }
    assert(r === Right((true, false, "c", true)))
  }

  test("FileContext.rename with OVERWRITE onto an existing file moves data and .crc") {
    same(bothFc(conf())) { (fc, d) =>
      for ((name, text) <- Seq("src" -> "new bytes", "dst" -> "old")) {
        val out = fc.create(new Path(s"file:$d/$name"), java.util.EnumSet.of(CreateFlag.CREATE))
        out.write(text.getBytes(UTF_8)); out.close()
      }
      fc.rename(new Path(s"file:$d/src"), new Path(s"file:$d/dst"), Options.Rename.OVERWRITE)
      val in = fc.open(new Path(s"file:$d/dst"))
      val got = try new String(in.readAllBytes(), UTF_8) finally in.close()
      assert(got === "new bytes")
      assert(!Files.exists(Paths.get(s"$d/src")) && !Files.exists(Paths.get(s"$d/.src.crc")))
      assert(Files.exists(Paths.get(s"$d/.dst.crc")))
    }
  }

  /** What a link-status lookup reports, or the exception class it throws. */
  private def linkView(st: => FileStatus): Either[Class[_], Seq[Any]] =
    Try(st).toEither.left.map(_.getClass).map { s =>
      Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen,
        if (s.isSymlink) s.getSymlink else null)
    }

  test("getFileLinkStatus: file, live link, dangling link, missing path") {
    val d = tempDir()
    try {
      Files.write(Paths.get(s"$d/file"), "x".getBytes(UTF_8))
      Files.createSymbolicLink(Paths.get(s"$d/live"), Paths.get(s"$d/file"))
      Files.createSymbolicLink(Paths.get(s"$d/dangling"), Paths.get(s"$d/gone"))
      val names = Seq("file", "live", "dangling", "missing")
      // Unqualified and `file:` paths take different branches of the stock code.
      val paths = names.flatMap(n => Seq(s"$d/$n", s"file:$d/$n")).map(new Path(_))
      val Seq(stockFs, nioFs) = bothFs(conf())
      val Seq(stockFc, nioFc) = bothFc(conf())
      for (p <- paths) {
        assert(linkView(nioFs.getFileLinkStatus(p)) === linkView(stockFs.getFileLinkStatus(p)), p)
        assert(linkView(nioFc.getFileLinkStatus(p)) === linkView(stockFc.getFileLinkStatus(p)), p)
      }
      assert(linkView(nioFs.getFileLinkStatus(new Path(s"$d/live"))).exists(_(3) == true))
      assert(linkView(nioFs.getFileLinkStatus(new Path(s"$d/missing"))) ===
        Left(classOf[java.io.FileNotFoundException]))
    } finally Tables.deleteRecursively(d.toFile)
  }

  test("the .crc sidecar is written and verified on read-back") {
    val d = tempDir()
    try {
      val Seq(stock, nio) = bothFs(conf())
      val p = new Path(s"$d/data.bin")
      val bytes = Array.tabulate[Byte](5000)(i => (i * 31).toByte)
      val out = nio.create(p)
      out.write(bytes); out.close()
      assert(Files.exists(Paths.get(s"$d/.data.bin.crc")))
      for (fs <- Seq(stock, nio)) {
        val in = fs.open(p)
        try assert(in.readAllBytes().sameElements(bytes)) finally in.close()
      }
      val raw = Files.readAllBytes(Paths.get(s"$d/data.bin"))
      raw(100) = (raw(100) ^ 1).toByte
      Files.write(Paths.get(s"$d/data.bin"), raw)
      intercept[ChecksumException] {
        val in = nio.open(p)
        try in.readAllBytes() finally in.close()
      }
    } finally Tables.deleteRecursively(d.toFile)
  }

  test("a session's file: writes and checkpoints fork no shell") {
    val spark = SharedSpark.spark
    import spark.implicits._
    val hconf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(URI.create("file:///"), hconf).isInstanceOf[GraftLocalFileSystem])
    assert(AbstractFileSystem.get(URI.create("file:///"), hconf).isInstanceOf[GraftLocalFs])
    val explicit = new Configuration()
    explicit.set("fs.file.impl", classOf[LocalFileSystem].getName)
    GraftLocalFileSystem.install(explicit)
    assert(explicit.get("fs.file.impl") === classOf[LocalFileSystem].getName)
    assert(explicit.get("fs.AbstractFileSystem.file.impl") === classOf[LocalFs].getName)

    val d = tempDir()
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      // the ingest job's shape: file checkpoint, two triggers, partitioned parquet sink
      for (b <- 0 until 2)
        (0 until 20).map(i => (b * 20 + i, s"k${i % 3}")).toDF("id", "k")
          .coalesce(1).write.parquet(s"$d/in/b$b")
      val q = spark.readStream.schema("id INT, k STRING")
        .option("maxFilesPerTrigger", "1").parquet(s"$d/in/*")
        .writeStream.format("parquet").partitionBy("k")
        .option("checkpointLocation", s"file:$d/ckpt")
        .trigger(Trigger.AvailableNow())
        .start(s"$d/out")
      q.awaitTermination()
      FileSystem.getLocal(hconf).mkdirs(new Path(s"$d/extra/dir"))
      rec.stop()
      assert(q.recentProgress.count(_.numInputRows > 0) === 2)
      assert(spark.read.parquet(s"$d/out").count() === 40)
      val jfr = Files.createTempFile("forks", ".jfr")
      try {
        rec.dump(jfr)
        val shell = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .filter(e => Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
            _.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))))
        assert(shell.isEmpty, s"${shell.size} shell forks, first: " +
          shell.headOption.map(_.getString("command")).getOrElse(""))
      } finally Files.deleteIfExists(jfr)
    } finally {
      rec.close()
      Tables.deleteRecursively(d.toFile)
    }
  }
}
