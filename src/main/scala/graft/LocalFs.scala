package graft

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's `file:` filesystem for FileContext (streaming checkpoints):
  * `org.apache.hadoop.fs.local.LocalFs` over [[LocalFs.Raw]]. Like that
  * one it serves `file:///` whatever `file:` URI it is built for. */
class LocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new LocalFs.RawFs(FsConstants.LOCAL_FS_URI, conf))

/** An in-process local filesystem: without `libhadoop`, Hadoop's own
  * starts a `chmod` for every file and directory it creates with a
  * permission and four `readlink`s for every FileContext rename. */
object LocalFs {
  /** `RawLocalFileSystem` with `setPermission` and `getFileLinkStatus`
    * done in the JVM; whatever the JVM cannot do exactly (native IO,
    * the sticky bit, a store without POSIX modes, a set-id directory)
    * and real symlinks take Hadoop's own path. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if (NativeIO.isAvailable || (mode & 0x200) != 0 ||
          !chmod(pathToFile(p).toPath, mode))
        super.setPermission(p, permission)
    }

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** FileSystem API: `LocalFileSystem` (checksums) over [[Raw]]. */
  class FileSystem extends LocalFileSystem(new Raw)

  /** `org.apache.hadoop.fs.local.RawLocalFs` over [[Raw]]. */
  private[graft] class RawFs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(
        uri, new Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  private val bits = PosixFilePermission.values // 0400 down to 0001

  /** `chmod <4-digit mode>` in the JVM, false where it would not be
    * exact: no POSIX modes, or a directory with set-id bits, which
    * `chmod` keeps and `setPosixFilePermissions` would clear. */
  private def chmod(path: NioPath, mode: Int): Boolean = try {
    val old = Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
    val setIdDir = (old & 0xf000) == 0x4000 && (old & 0xc00) != 0
    if (!setIdDir) {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      bits.indices.foreach { i =>
        if ((mode & (0x100 >> i)) != 0) perms.add(bits(i))
      }
      Files.setPosixFilePermissions(path, perms)
    }
    !setIdDir
  } catch { case _: UnsupportedOperationException => false }
}
