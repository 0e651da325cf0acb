package graft

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` file system of every session (`spark.hadoop.fs.file.impl`):
  * Hadoop's checksummed `LocalFileSystem` over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's raw local file system with `setPermission` through java.nio.
  * Without the native-hadoop library the stock one forks a `chmod`
  * process for every file and directory a write creates (2.8 ms a call
  * against under 0.01 ms). A sticky bit, which java.nio cannot set, keeps
  * the stock path. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath,
      java.nio.file.attribute.PosixFilePermissions.fromString(permission.toString))
}
