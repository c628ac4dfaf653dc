package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem of every engine session, for both Hadoop APIs
  * (registered by [[graft.Tables.requiredConfs]]): `RawLocalFileSystem`
  * without the forks, under Hadoop's own checksummed wrappers below.
  *
  * Without the native libhadoop, Hadoop's local filesystem forks a
  * `chmod` for every file and directory it creates and a `readlink` for
  * every `getFileLinkStatus`, which FileContext's rename asks for on both
  * of its paths. Streaming creates and renames files on every trigger:
  * state-store deltas and their checksums, offset and commit logs, sink
  * parquet files. Here `setPermission` of a plain rwx mode goes through
  * NIO (a mode with the sticky bit still goes to the parent class's
  * `chmod`), and `getFileLinkStatus` of a path that is not a symbolic
  * link is its `getFileStatus`, which is what the parent returns once
  * `readlink` prints nothing; links go to the parent class. Every other
  * operation is Hadoop's own. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.posix(mode))
    catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist") }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  /** `PosixFilePermission.values` runs owner-read (0400) to
    * others-execute (0001). */
  private val bits = PosixFilePermission.values.toSeq.zipWithIndex
    .map { case (p, i) => (1 << (8 - i), p) }

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.foreach { case (b, p) => if ((mode & b) != 0) s.add(p) }
    s
  }
}

/** The checksummed `FileSystem` (`.crc` sidecars) over
  * [[NioRawLocalFileSystem]]. It keeps the rename rule of the class it
  * replaces, Hive's `ProxyLocalFileSystem` (registered for `file` by
  * hive-exec's service entry): renaming onto an existing file returns
  * false instead of replacing it. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean =
    !isExistingFile(dst) && super.rename(src, dst)

  private def isExistingFile(p: Path): Boolean =
    try getFileStatus(p).isFile catch { case _: FileNotFoundException => false }
}

/** FileContext's raw `file:` layer over [[NioRawLocalFileSystem]]: the
  * same overrides as Hadoop's `RawLocalFs`, whose constructors are
  * package-private. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, uri.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** FileContext's checksummed `file:` filesystem (`.crc` sidecars), as
  * Hadoop's `LocalFs` but over [[NioRawLocalFs]]. `open(path)` verifies
  * the `.crc` like `open(path, bufferSize)`: Hadoop's `FilterFs.open(path)`
  * hands the path straight to the raw filesystem, so through the stock
  * `LocalFs` the offset, commit and state files Spark's
  * `FileContextBasedCheckpointFileManager` reads were never verified. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf)) {
  override def open(f: Path): FSDataInputStream = open(f, getServerDefaults(f).getFileBufferSize)
}
