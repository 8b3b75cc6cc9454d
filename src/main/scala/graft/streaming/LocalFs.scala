package graft.streaming

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/**
 * The `FileContext` file system for `file:`, registered by the
 * `core-site.xml` graft ships (`fs.AbstractFileSystem.file.impl`), so
 * every Hadoop `Configuration` on graft's classpath picks it up.
 * Spark's streaming checkpoint (offsets and commits logs, state-store
 * deltas, snapshots and checksum files) writes through `FileContext`.
 *
 * It is Hadoop's own `org.apache.hadoop.fs.local.LocalFs` (a
 * `ChecksumFs` over `RawLocalFs`) with one change underneath: the raw
 * `RawLocalFileSystem` starts no child process for a checkpoint write.
 * Without `libhadoop.so`, stock Hadoop forks one `chmod` per created
 * file and directory, and `readlink` on every rename's link-status
 * check; the latter is always wasted, because Hadoop hands `readlink` a
 * `file:/…` string that never resolves (so stock Hadoop never reports a
 * symlink through `FileContext`; here a real one reads as a symlink).
 * On a local checkpoint those forks were most of each trigger's
 * state-commit and log-commit time. The `.crc` files, the atomic rename
 * and the on-disk layout are Hadoop's, so checkpoints written by either
 * class resume under the other.
 */
class LocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new LocalFs.Raw(uri, conf))

object LocalFs {

  /** Hadoop's `RawLocalFs`, over [[ForkFreeFileSystem]]. */
  final class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new ForkFreeFileSystem, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    @deprecated("use getServerDefaults(Path)", "")
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  /** `RawLocalFileSystem` with the forking calls of a checkpoint write
   *  done in the JVM. */
  final class ForkFreeFileSystem extends RawLocalFileSystem {

    /** chmod through java.nio instead of a forked `chmod`. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort & 0x1ff
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs OWNER_READ .. OTHERS_EXECUTE, i.e. bits 8 .. 0
      PosixFilePermission.values.zipWithIndex.foreach { case (bit, i) =>
        if ((mode >> (8 - i) & 1) == 1) perms.add(bit)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch {
        case e: NoSuchFileException =>
          throw new FileNotFoundException(e.getFile)
      }
    }

    /** A path that is not a symlink has its plain status; only a real
     *  symlink takes Hadoop's forked `readlink` path, given the plain
     *  local path it can resolve. */
    override def getFileLinkStatus(f: Path): FileStatus = {
      val local = pathToFile(f)
      if (!Files.isSymbolicLink(local.toPath)) getFileStatus(f)
      else {
        val st = super.getFileLinkStatus(new Path(local.getPath))
        st.setPath(f)
        st
      }
    }

    /** The unqualified target of the symlink `f`, as Hadoop's is. */
    override def getLinkTarget(f: Path): Path =
      new Path(Files.readSymbolicLink(pathToFile(f).toPath).toString)
  }
}
