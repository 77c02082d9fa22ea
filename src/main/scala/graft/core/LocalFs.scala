package graft.core

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its forked processes. Without
  * libhadoop, stock `RawLocalFileSystem` runs `chmod` to set the mode of
  * every file it creates and every directory it makes, and `readlink`
  * for every `getFileLinkStatus` (a FileContext rename asks four times:
  * source and destination, file and `.crc`). A Structured Streaming
  * checkpoint commit (`CheckpointFileManager.createAtomic`) measured
  * 48-51 ms on a 4-core host, and 1.7-1.8 ms with this class. Here both
  * calls go through java.nio; symlinks, the sticky bit and non-POSIX
  * hosts still take the stock path.
  * `Session.builder` installs it for both Hadoop APIs; LocalFsSpec pins
  * parity with stock. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit ||
        !FileSystems.getDefault.supportedFileAttributeViews.contains("posix"))
      super.setPermission(p, permission)
    else {
      // PosixFilePermission's declaration order is the mode's bit order,
      // OWNER_READ (0400) down to OTHERS_EXECUTE (0001)
      val mode = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((mode & (0x100 >> i)) != 0) perms.add(perm)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }

  /** For a non-link, what `RawLocalFileSystem` returns after its forked
    * `readlink` prints nothing; a missing path throws
    * FileNotFoundException in both. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`, the FileSystem API (parquet writers,
  * FileOutputCommitter, `saveAsTable`): the checksummed local
  * filesystem over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the FileContext API (Structured
  * Streaming's checkpoint file manager, the HDFS-backed state store):
  * stock `LocalFs` over a copy of stock `RawLocalFs`, which hard-codes
  * `new RawLocalFileSystem()` and so cannot take the fork-free one.
  * Like stock `LocalFs` it ignores `uri`: the scheme has one root. */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
    new DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
        new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults(f: Path): FsServerDefaults =
        LocalConfigKeys.getServerDefaults
      override def getServerDefaults(): FsServerDefaults =
        LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    })
