package graft.engine

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system, except that it sets permissions through
  * java.nio instead of running `chmod`.
  *
  * Without the native Hadoop library (`libhadoop`),
  * `RawLocalFileSystem.setPermission` starts a `chmod` process, and it is
  * called on every file create and every mkdir (with the umask already
  * applied). A streaming checkpoint writes several files per trigger, so
  * a stream started about a thousand `chmod` processes a minute. This is
  * still a `ChecksumFileSystem`: `.crc` sidecars are written, and checked
  * on read, as by `LocalFileSystem`. [[Engine.session]] installs it with
  * `spark.hadoop.fs.file.impl`. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  /** Sets the nine rwx bits with `Files.setPosixFilePermissions`. A
    * permission with the sticky bit, which java.nio cannot set, goes to
    * `RawLocalFileSystem` as before. */
  private[engine] class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
          permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))
  }
}
