package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}

/** The local (`file:`) file system without a process fork per file.
  *
  * Without `libhadoop`, which Spark's bundled Hadoop does not ship, stock
  * [[RawLocalFileSystem]] runs `chmod` in a child process for every file and
  * directory it creates with a permission, and `readlink` for every
  * `getFileLinkStatus`, which `FileContext.rename` calls on both its
  * source and its destination. A streaming micro-batch writes an offset-log
  * entry, a commit-log entry and a state-store delta per partition, each
  * through a rename, and a parquet write creates a file and directories per
  * task, so the forks are a fixed cost that every small batch pays.
  *
  * This subclass does both in process with `java.nio`. Everything else is
  * stock, and each override hands the case NIO cannot express back to the
  * stock code: a mode with bits above 0777 (the sticky bit) and a path that
  * is a symbolic link.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission) // bits above 0777
    else {
      Files.setPosixFilePermissions(pathToFile(p).toPath, ForkFreeLocalFs.posix(mode))
      ()
    }
  }

  /** Stock code asks `readlink` and, when it prints nothing, returns
    * `getFileStatus`; only a symbolic link needs more than that.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed [[LocalFileSystem]] over
  * [[ForkFreeRawLocalFileSystem]] (parquet writes, the output committer,
  * `FileSystem`-API deletes and listings).
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the `FileContext` side, which is what
  * Spark's streaming checkpoint manager, metadata logs and HDFS-backed state
  * store write through. It is Hadoop's `LocalFs` (a [[ChecksumFs]] over a
  * `RawLocalFs`) with [[ForkFreeRawLocalFileSystem]] underneath.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
  extends ChecksumFs(new ForkFreeLocalFs.Raw(uri, conf))

object ForkFreeLocalFs {

  /** The Spark confs that bind the two classes for the `file:` scheme. Spark
    * copies `spark.hadoop.*` into every Hadoop configuration it builds.
    */
  val bindings: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)

  /** `RawLocalFs`, Hadoop's `DelegateToFileSystem` for `file:`, with the same
    * four overrides over [[ForkFreeRawLocalFileSystem]].
    */
  final class Raw(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    @deprecated("deprecated in AbstractFileSystem", "")
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** The nine permission bits of `mode` as NIO permissions.
    * `PosixFilePermission` lists them from owner read (0400) down to others
    * execute (0001).
    */
  private[io] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((mode & (1 << (8 - p.ordinal))) != 0) set.add(p)
    }
    set
  }
}
