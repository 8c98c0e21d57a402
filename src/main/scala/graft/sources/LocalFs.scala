package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its two per-operation shell-outs.
  * Without native libhadoop the stock class forks `chmod` for every file
  * or directory it creates and `readlink` for every link-status lookup
  * (two per `FileContext` rename): ~110 process starts per micro-batch
  * across a stream's offset log, commit log, state-store deltas and sink
  * files. Both go through java.nio here; what ends up on disk does not
  * change. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The sticky bit has no java.nio form, so that rare mode still forks. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs OWNER_READ (0400) down to OTHERS_EXECUTE (0001)
      PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((mode & (1 << (8 - i))) != 0) perms.add(perm)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }

  /** The stock lookup runs `readlink` on the path's string. For a
    * qualified path that string (`file:/…`) names no file, so it reads
    * "" and falls through to `getFileStatus`, as a non-link does here. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: checksummed local filesystem over the nio raw one. */
class GraftLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, what `FileContext` (Structured
  * Streaming's checkpoint files) uses: Hadoop's `local.LocalFs`, a
  * `ChecksumFs` over `local.RawLocalFs`, rebuilt over the nio raw
  * filesystem (the Hadoop constructors are package-private). Hadoop
  * instantiates it reflectively with `(URI, Configuration)`; like
  * `LocalFs` it ignores the URI, since `file:///` is the only one. */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(conf)) {
  override def getUriDefaultPort: Int = -1
}

class GraftRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
