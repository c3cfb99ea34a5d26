package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without child processes. Without the native
  * libhadoop, `RawLocalFileSystem` forks `chmod` for every file and `.crc`
  * it creates and `readlink` for both sides of every `FileContext` rename
  * (given a `file:` string, so it never sees a link). In live `cdc_ingest`
  * those forks were most of each trigger's WAL and RocksDB state commit.
  * These two calls answer from `java.nio` instead, as libhadoop's own chmod
  * does (it too clears a directory's setgid bit, which chmod(1) keeps); a
  * sticky bit and a real symlink still go to the stock code. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      // PosixFilePermission runs OWNER_READ (0400) … OTHERS_EXECUTE (0001)
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.foreach { q =>
        if ((permission.toShort & (0x100 >> q.ordinal)) != 0) perms.add(q)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local filesystem over the shim. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `FileContext`'s raw local filesystem over the shim; Hadoop's `RawLocalFs`
  * cannot take another `FileSystem` (its constructors are package-private),
  * so its four overrides are repeated here. */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path) = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: `LocalFs` over the shim. Hadoop
  * instantiates it through this `(URI, Configuration)` constructor and, as
  * `LocalFs` does, it serves `file:///` whatever the URI. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
