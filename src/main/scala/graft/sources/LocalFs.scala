package graft.sources

import java.net.URI
import java.nio.file.{FileSystems, Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem, minus its process forks. Without
  * libhadoop, `RawLocalFileSystem` runs a `chmod` process for every file
  * and directory it creates and a `readlink` process for every
  * `FileContext` rename, which is most of a micro-batch's checkpoint and
  * store-commit time. [[Raw]] makes the same two calls through java.nio;
  * everything else, checksums and the `FileContext` rename included, is
  * Hadoop's own code. [[graft.Engine.session]] binds both APIs. */
object LocalFs {

  /** The session conf that binds the `file:` scheme of both Hadoop APIs. */
  val sessionConf: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[FileSystemImpl].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[AbstractFileSystemImpl].getName)

  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
  private val rwx = PosixFilePermission.values // owner read first: bit 8 down to bit 0

  /** `RawLocalFileSystem` whose chmod and symlink probe start no process. */
  class Raw extends RawLocalFileSystem {
    /** chmod(2) of the nine rwx bits, as Hadoop's NativeIO path makes it;
      * a sticky (or any other) bit keeps Hadoop's own code. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if (!posix || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        rwx.indices.foreach(i => if ((mode >> (8 - i) & 1) != 0) set.add(rwx(i)))
        Files.setPosixFilePermissions(pathToFile(p).toPath, set)
      }
    }

    /** Hadoop runs `readlink` on `f.toString` and, when it prints nothing,
      * returns `getFileStatus(f)`. Only a path that names a symlink can
      * print something, so only a symlink takes Hadoop's code. (A
      * qualified `file:/…` string names none: Hadoop's probe of it fails.) */
    override def getFileLinkStatus(f: Path): FileStatus = {
      val link = try Files.isSymbolicLink(new java.io.File(f.toString).toPath)
        catch { case _: InvalidPathException => false }
      if (link) super.getFileLinkStatus(f) else getFileStatus(f)
    }
  }

  /** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over [[Raw]]. */
  class FileSystemImpl extends LocalFileSystem(new Raw)

  /** Hadoop's `RawLocalFs` over [[Raw]], with its four overrides. */
  class RawFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort(): Int = -1
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (a `ChecksumFs`)
    * over [[RawFs]]: what `FileContext` and Spark's checkpoint files use. */
  class AbstractFileSystemImpl(uri: URI, conf: Configuration)
    extends ChecksumFs(new RawFs(uri, conf))
}
