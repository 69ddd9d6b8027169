package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system over [[NioRawLocalFileSystem]];
  * [[Graft.session]] maps the `file:` scheme to it.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** A `RawLocalFileSystem` that sets permissions in-process. Without
  * libhadoop the stock `setPermission` forks `chmod`, and it runs for
  * every file and directory the file system creates. Here the nine rwx
  * bits go through `java.nio.file.Files`, which makes the same chmod(2)
  * call. A mode with any bit above those nine (sticky, setuid, setgid)
  * takes the stock path, so no mode is silently dropped.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission) // above 0777
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString)) // "rwxr-x---"
}
