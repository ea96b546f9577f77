package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/**
 * Hadoop's local filesystem with permissions set in-process.
 *
 * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
 * forks a `chmod` child process, and Hadoop calls it for every file and
 * directory it creates (part files, their `.crc` files, `_temporary`
 * directories, `_SUCCESS`). This sets the same mode bits through
 * `java.nio` instead. The sticky bit, which Hadoop never sets on what a
 * write creates, is not carried. Checksums are kept: the raw filesystem
 * is wrapped in `LocalFileSystem`, as `file://` is by default.
 *
 * Selected per write by [[ParquetIO.writer]]; never registered for the
 * session.
 */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
        permission.getOtherAction.SYMBOL))
}
