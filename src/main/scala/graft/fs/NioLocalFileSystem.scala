package graft.fs

import java.io.File
import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its shell-outs. Without
  * `libhadoop` (Spark's jars ship none), the stock class forks `chmod`
  * for every file and directory it creates and `readlink` for every
  * link-status lookup, which `FileContext.rename` makes four of per
  * checkpoint file. A fork costs milliseconds, the syscall microseconds.
  * Results are the stock class's in every case; only the process is gone. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  /** `chmod` through NIO. The stock shell-out stays for what NIO cannot
    * express: the sticky bit, and a directory's setuid/setgid bits,
    * which `chmod` with a four-digit mode keeps and NIO would clear. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    if (posix && !permission.getStickyBit && !dirWithSetId(f)) {
      val mode = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      for (i <- 0 until 9 if (mode & (0x100 >> i)) != 0) perms.add(Rwx(i))
      Files.setPosixFilePermissions(f, perms)
    } else super.setPermission(p, permission)
  }

  /** The stock lookup asks `readlink` about `new File(p.toString)` and,
    * when that is no link, returns `getFileStatus(p)`; the same test is
    * one `lstat` here. A real link still goes through the stock code. */
  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(new File(p.toString).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

object NioRawLocalFileSystem {
  private val posix = {
    val views = FileSystems.getDefault.supportedFileAttributeViews
    views.contains("posix") && views.contains("unix")
  }

  /** rwx for owner, group, others: the order of the mode's low nine bits. */
  private val Rwx = PosixFilePermission.values

  private def dirWithSetId(f: java.nio.file.Path): Boolean = {
    val mode = Files.getAttribute(f, "unix:mode").asInstanceOf[Int]
    (mode & 0xf000) == 0x4000 && (mode & 0xc00) != 0
  }
}

/** The `file:` [[org.apache.hadoop.fs.FileSystem]]: stock CRC sidecars
  * over [[NioRawLocalFileSystem]]. It stays a [[LocalFileSystem]], since
  * `FileSystem.getLocal` casts to that type.
  *
  * The class it replaces is the one Spark's jars register for `file:`,
  * Hive's `ProxyLocalFileSystem`, whose one change to LocalFileSystem is
  * kept: a rename onto an existing file returns false (HDFS's contract)
  * where the raw rename would replace it. */
class GraftLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
}

object GraftLocalFileSystem {
  private val Keys = Seq(
    "fs.file.impl" -> classOf[GraftLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[GraftLocalFs].getName)

  /** Points both `file:` keys of `conf` at the NIO-backed classes, unless
    * either was set anywhere but in Hadoop's defaults: an explicit
    * setting (`spark.hadoop.fs.file.impl=...` included) wins. */
  def install(conf: Configuration): Unit =
    if (Keys.forall { case (k, _) =>
        Option(conf.getPropertySources(k)).forall(_.forall(_ == "core-default.xml")) })
      Keys.foreach { case (k, v) => conf.set(k, v) }
}

/** The `file:` [[org.apache.hadoop.fs.AbstractFileSystem]] that
  * `FileContext` (streaming checkpoints) uses: stock `LocalFs` with its
  * raw layer over [[NioRawLocalFileSystem]]. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftLocalFs.Raw(uri, conf))

object GraftLocalFs {
  /** Hadoop's `RawLocalFs`, whose constructors are package-private. */
  private class Raw(uri: URI, conf: Configuration) extends DelegateToFileSystem(
      uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    // The OS validates local names; the stock class accepts every name too.
    override def isValidName(src: String): Boolean = true
  }
}
