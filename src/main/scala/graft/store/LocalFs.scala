package graft.store

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The `file:` scheme's Hadoop file system in graft sessions
  * ([[graft.GraftSession]]): Hadoop's checksummed local file system, except
  * that permissions are set through `java.nio` instead of a forked `chmod`.
  *
  * Without the native Hadoop library, `RawLocalFileSystem` runs `chmod` in
  * a child process for every file it creates and every directory it makes,
  * and a Parquet file brings its `.crc` sidecar: a partitioned write of a
  * 30-day stage (about 80 files) spent more time forking than writing, and
  * the fork's cost follows the host's load. The permission bits set are the
  * same; the sticky bit, which `java.nio` cannot express, and hosts with
  * the native library keep Hadoop's own path. */
final class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (NativeIO.isAvailable || permission.getStickyBit) super.setPermission(p, permission)
      else {
        val bits = permission.toShort & 0x1ff
        // PosixFilePermission lists owner r/w/x, group r/w/x, others r/w/x:
        // the mode bits from 0400 down to 0001
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
          if ((bits & (0x100 >> i)) != 0) perms.add(perm)
        }
        try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }
  }
}
