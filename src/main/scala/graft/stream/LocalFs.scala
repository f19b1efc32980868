package graft.stream

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFilePermission, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's local file system without child processes, for streams.
  *
  * Without the native `libhadoop`, Hadoop's `RawLocalFileSystem` runs a
  * `chmod` child process for every file and directory it creates with a
  * permission, and FileContext's rename runs a `readlink` child for each
  * side of every rename (`getFileLinkStatus`). A stream pays both on
  * every trigger: its offset and commit logs, its state-store deltas and
  * the `foreachBatch` parquet writes each create and rename files. Each
  * child costs milliseconds in a JVM holding a large heap; the
  * `java.nio` call below costs microseconds.
  *
  * [[NioRawLocalFileSystem]] sets POSIX permission bits through
  * `Files.setPosixFilePermissions` and answers `getFileLinkStatus` of a
  * path that is no symlink with its plain status. Everything else, and
  * every case it does not cover — a real symlink, a sticky bit, a
  * store without POSIX permissions, a machine with `libhadoop` — goes to
  * Hadoop's own code. [[NioLocalFileSystem]] is its checksummed
  * `FileSystem` (`fs.file.impl`), [[NioLocalFs]] its checksummed
  * FileContext file system (`fs.AbstractFileSystem.file.impl`).
  *
  * [[StreamRunner.start]] installs [[conf]] on every stream it starts.
  * Batch jobs keep Hadoop's default local file system.
  */
object LocalFs {

  /** The Hadoop settings that serve `file:` paths from these classes.
    * Hadoop caches `FileSystem`s per scheme and user for the whole JVM,
    * not per conf, so `fs.file.impl` alone would be ignored wherever a
    * `file:` file system was cached before: `disable.cache` makes each
    * lookup under these settings build its own. */
  val conf: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true",
    "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  /** `permission` as `java.nio` POSIX permissions, or None when it holds
    * a bit beyond rwx for user, group and other (the sticky bit). */
  private[stream] def posix(permission: FsPermission): Option[java.util.Set[PosixFilePermission]] =
    if ((permission.toShort & ~0x1ff) != 0) None
    else Some(PosixFilePermissions.fromString(permission.toString))
}

/** `RawLocalFileSystem` whose permission and link-status calls start no
  * child process (see [[LocalFs]]). */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    LocalFs.posix(permission) match {
      case Some(bits) if !NativeIO.isAvailable && !Files.isSymbolicLink(file) =>
        try Files.setPosixFilePermissions(file, bits): Unit
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      case _ => super.setPermission(p, permission)
    }
  }

  // Hadoop's own answer for a path that is no symlink is its
  // getFileStatus, after a `readlink` child that prints nothing
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed local `FileSystem` over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `RawLocalFs` (whose constructors are package-private) over
  * [[NioRawLocalFileSystem]]: the FileContext view of the local disk. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed FileContext file system over [[NioRawLocalFs]]
  * (Hadoop's `LocalFs`), built by FileContext through this constructor. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
