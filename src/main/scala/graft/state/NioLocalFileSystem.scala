package graft.state

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with permissions set in-process.
  *
  * Without the native `libhadoop`, `RawLocalFileSystem.setPermission`
  * forks `chmod`, and `RawLocalFileSystem` calls it for every file it
  * creates and every directory it makes. This one sets the same mode
  * with `Files.setPosixFilePermissions`, and falls back to Hadoop's own
  * path where NIO cannot express the mode: a sticky bit, or a default
  * file system without POSIX permissions.
  *
  * [[ParquetDir.writer]] selects it per write, so the session's conf
  * and the shared `FileSystem` cache keep Hadoop's own class.
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!posix || permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, bits(permission))
  }

  /** The `rwxrwxrwx` bits of `permission`; `PosixFilePermission`
    * declares them in that order, most significant first.
    */
  private def bits(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { b =>
      if ((mode & (0x100 >> b.ordinal)) != 0) set.add(b)
    }
    set
  }
}
