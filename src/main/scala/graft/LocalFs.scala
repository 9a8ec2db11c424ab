package graft

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

import scala.annotation.unused

/** Hadoop's `RawLocalFileSystem` without the per-file shell-outs.
  *
  * With no Hadoop native library on the host, the stock class forks
  * `chmod` for every `setPermission` (each file create) and `readlink`
  * for every `getFileLinkStatus` (two per rename). Spark's checkpoint
  * writes are create-temp-then-rename, so every offset/commit log entry
  * and every state-store commit paid several ~3 ms process starts. Both
  * overrides make the same decision the forked command made, in-process;
  * the cases Java cannot express (sticky bit, a real symlink) stay on
  * `super`.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))

  /** The stock test is `readlink <f.toString>`: a non-empty answer means a
    * link. `new File(f.toString)` is the same file name, so a `file:` URI
    * (a relative name that does not exist) is never a link here either.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local `FileSystem` (`.crc` files kept)
  * over [[ForkFreeRawLocalFileSystem]]. Spark's `FileSystem` paths use it:
  * RocksDB file copies, parquet writers, output committers.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: stock `LocalFs` (a `ChecksumFs` over
  * `RawLocalFs`) with [[ForkFreeRawLocalFileSystem]] underneath. Spark's
  * default `FileContextBasedCheckpointFileManager` uses it; stock
  * `RawLocalFs` builds its own `RawLocalFileSystem`, so `fs.file.impl`
  * does not reach it. The overrides are `RawLocalFs`'s own, and like
  * `LocalFs` it ignores `uri`: `(URI, Configuration)` is the constructor
  * `AbstractFileSystem.get` calls.
  */
class ForkFreeLocalFs(@unused uri: URI, conf: Configuration) extends ChecksumFs(
    new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    })
