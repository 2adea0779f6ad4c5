package graft.fs

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem without a forked process per call.
  *
  * Without `libhadoop.so`, `RawLocalFileSystem` runs a shell command for
  * two calls that every local write makes: `chmod` in `setPermission`
  * (each create and mkdir) and `readlink` in `getFileLinkStatus` (each
  * `FileContext` rename). A micro-batch's offset-log and commit-log
  * writes each paid about 30 ms for those forks: `CommitLog.add` took
  * 28.3 ms on ext4 and 30.8 ms on tmpfs, 2.6 and 1.8 ms without them
  * (median of 50, 4-vCPU host). Both overrides do the same through
  * `java.nio` and defer to Hadoop for what they do not cover: setuid,
  * setgid and sticky bits, and symlinks. Everything else,
  * checksums and rename semantics included, is the stock class. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort & 0xffff
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission's order is OWNER_READ (0400) … OTHERS_EXECUTE (0001)
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.foreach { q =>
        if ((bits & (0x100 >> q.ordinal)) != 0) perms.add(q)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `FileSystem` over the fork-free raw one. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `FileContext` side of [[ForkFreeRawLocalFileSystem]]; mirrors
  * Hadoop's `RawLocalFs`, whose constructor over a given raw filesystem is
  * package-private. */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: what Spark's default streaming
  * checkpoint manager (`FileContextBasedCheckpointFileManager`) writes
  * offset logs, commit logs and state-store files through. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))
