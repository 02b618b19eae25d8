package graft.io

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file://` as Hadoop's checksummed [[LocalFileSystem]] (same `.crc`
  * sidecars, same read-side checksum verification) over a raw store that
  * sets permissions in-process. Without the native Hadoop library,
  * `RawLocalFileSystem.setPermission` forks a `chmod` for every file,
  * sidecar and directory a write creates; the mode it is given already has
  * `fs.permissions.umask-mode` applied, so its 9 bits go straight to
  * `Files.setPosixFilePermissions`. A sticky bit or a non-POSIX store
  * keeps Hadoop's own path. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!posix || permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString.take(9)))
  }
}
