package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its two per-file subprocesses.
  *
  * Without the native `libhadoop`, `RawLocalFileSystem` runs `chmod` in
  * `setPermission` (called on every create and mkdirs with a permission)
  * and `readlink` in `getFileLinkStatus` (called on every
  * `FileContext.rename`). A streaming checkpoint commits each offset-log,
  * commit-log and state-store file and its `.crc` through both, so a
  * micro-batch forked hundreds of processes. These two overrides do the
  * same work through `java.nio`. A sticky bit, a filesystem without POSIX
  * attributes and a real symlink still go to the parent, so their
  * semantics are Hadoop's.
  *
  * `src/main/resources/core-site.xml` registers [[NioLocalFileSystem]]
  * (`FileSystem` API) and [[NioLocalFs]] (`FileContext` API) for `file:`.
  * A cluster's own `core-site.xml` precedes the application's on the
  * spark-submit classpath, and other schemes are untouched.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    if (permission.getStickyBit ||
        !f.getFileSystem.supportedFileAttributeViews.contains("posix")) {
      super.setPermission(p, permission)
    } else {
      // PosixFilePermission is declared owner r/w/x, group r/w/x, others
      // r/w/x: ordinal i is mode bit 8 - i.
      val mode = permission.toShort
      val perms = new java.util.HashSet[PosixFilePermission]
      PosixFilePermission.values.foreach { q =>
        if ((mode & (0x100 >> q.ordinal)) != 0) perms.add(q)
      }
      try Files.setPosixFilePermissions(f, perms)
      catch {
        case e: NoSuchFileException =>
          throw new FileNotFoundException(s"File $p does not exist")
            .initCause(e)
      }
    }
  }

  /** The parent returns `getFileStatus` when `readlink` prints nothing,
    * i.e. for everything that is not a symlink. */
  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** `fs.file.impl`: the checksummed local `FileSystem` over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** [[NioRawLocalFileSystem]] as an `AbstractFileSystem`, with the
  * overrides of Hadoop's `RawLocalFs` (whose constructors are not
  * public). */
private[sources] class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed local
  * `FileContext` filesystem, which Spark's default streaming checkpoint
  * file manager writes through. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))
