package graft.ops

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The `file:` filesystem without a `chmod` fork per created file.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * runs `Shell.execCommand("chmod", "%04o", path)`, and every `create`
  * and `mkdirs` sets the umasked default mode through it: one
  * `fia_maintain` run (seed 7, 4-core host) forked 382 `chmod`
  * processes (226 `0644`, 156 `0755`, JFR `jdk.ProcessStart`). Here the
  * raw filesystem sets the same mode with
  * `Files.setPosixFilePermissions` on the canonical path, the path
  * `chmod` would follow. With the native library present, or for a
  * sticky bit (no POSIX attribute holds it), Hadoop's own call runs.
  * `GraftSession.builder` registers the class as `fs.file.impl`. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (NativeIO.isAvailable || permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(
        pathToFile(p).getCanonicalFile.toPath,
        PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
          permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))
  }
}
