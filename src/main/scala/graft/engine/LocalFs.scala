package graft.engine

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without the process forks.
  *
  * Without libhadoop, `RawLocalFileSystem` shells out to `chmod` for every
  * `setPermission` (each file create and directory mkdir) and to `readlink`
  * for every `getFileLinkStatus` (each `FileContext.rename`). A streaming
  * micro-batch writes its offset log, commit log and every state-store delta
  * atomically (temp file + rename), so each trigger forked dozens of
  * processes. This subclass answers the two calls in-process with the same
  * results; anything it does not model (sticky bits, symlinks) still goes
  * to the stock code.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** `permission` already has the umask applied by the caller (create and
    * mkdirs mask before they call here), exactly as the stock `chmod`
    * receives it. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val bits = permission.toShort & 0x1ff
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // declaration order is OWNER_READ … OTHERS_EXECUTE: bit 8 down to bit 0
      PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
        if ((bits & (0x100 >> i)) != 0) perms.add(pp)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }

  /** The stock code runs `readlink` and, when it prints nothing (not a
    * symlink, or no such file), returns `getFileStatus`. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `file:` FileSystem over the fork-free raw
  * filesystem. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `AbstractFileSystem` (FileContext API) view of the fork-free raw
  * filesystem; mirrors `org.apache.hadoop.fs.local.RawLocalFs`, whose
  * constructors are package-private. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  // local filesystems validate names themselves (as RawLocalFs does)
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: what Spark's
  * `FileContextBasedCheckpointFileManager` and the state stores write
  * through; mirrors `org.apache.hadoop.fs.local.LocalFs`. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

object ForkFreeLocalFs {
  /** Hadoop configuration that routes `file:` paths through both APIs'
    * fork-free implementations. */
  val hadoopConf: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)
}
