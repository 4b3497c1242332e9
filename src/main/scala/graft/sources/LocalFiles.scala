package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.hadoop.util.Shell

/** Hadoop's local filesystem without a process per permission change.
  *
  * Without Hadoop's native library (none ships with the Spark jars),
  * `RawLocalFileSystem.setPermission` runs `chmod` through
  * `Shell.execCommand`, and `mkOneDirWithMode` and `create` call it for
  * every directory, data file and `.crc` a write makes: about three forked
  * processes per output file of a partitioned load. This subclass sets the
  * same 9 mode bits with `Files.setPosixFilePermissions`. It defers to the
  * stock method when native IO is present, on Windows, or when the mode
  * has bits above `0777` (sticky, setuid, setgid), which NIO cannot set.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if (NativeIO.isAvailable || Shell.WINDOWS || (mode & ~0x1ff) != 0)
      super.setPermission(p, permission)
    else
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        NioRawLocalFileSystem.posix(mode))
  }

  /** The stock lookup, which `FileContext` (streaming checkpoints) calls
    * on every status check, forks `readlink` without native IO, and hands
    * it the qualified `file:` path, so a link is never found there and the
    * result is `getFileStatus`. That is answered here without the fork;
    * a real symbolic link still goes to the stock method.
    */
  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

object NioRawLocalFileSystem {
  /** The permission set of the low 9 bits of `mode`: `PosixFilePermission`
    * lists owner, group, others, each read, write, execute, in the order
    * of the octal digits' bits from `0400` down to `0001`.
    */
  def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((mode & (0x100 >> p.ordinal)) != 0) s.add(p)
    }
    s
  }
}

/** `fs.file.impl`: the stock checksummed `LocalFileSystem` (so `.crc`
  * files are written and checked as before) over [[NioRawLocalFileSystem]].
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `FileContext` twin of [[NioRawLocalFileSystem]]: Hadoop's
  * `RawLocalFs`, delegating to the in-process raw filesystem instead of
  * building its own `RawLocalFileSystem`.
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (a `ChecksumFs`
  * over the raw local FS, always at `file:///`) over [[NioRawLocalFs]].
  * `FileContext` users — Spark's streaming checkpoint manager — go through
  * this instead of `fs.file.impl`.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
