package graft.sources

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system with fork-free permissions.
  *
  * Without libhadoop (the native library Spark distributions do not
  * ship), `RawLocalFileSystem.setPermission` forks `chmod` — and the
  * local FS calls it for every directory `mkdirs` creates and every file
  * (and `.crc` sidecar) it creates, so one small Parquet write forks
  * dozens of processes: a 3-level `mkdirs` costs ~15 ms against ~1 ms
  * through `java.nio`. This file system sets the same mode bits through
  * `Files.setPosixFilePermissions` instead; only the sticky bit, which
  * `java.nio` cannot express, and non-POSIX file systems go through
  * Hadoop's own path. Everything else — checksums, rename, listing —
  * is Hadoop's `LocalFileSystem`.
  *
  * Enable with `fs.file.impl` (`spark.hadoop.fs.file.impl` for Spark);
  * [[graft.GraftSession.local]] does.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** The raw (checksum-less) layer, where `mkdirs` and `create` apply
    * their permissions. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val mode = permission.toShort
        val rwx = "rwxrwxrwx".zipWithIndex.map { case (c, i) =>
          if ((mode & (1 << (8 - i))) != 0) c else '-'
        }.mkString
        try Files.setPosixFilePermissions(pathToFile(p).toPath,
          PosixFilePermissions.fromString(rwx))
        catch {
          case _: NoSuchFileException =>
            throw new FileNotFoundException(s"File $p does not exist")
          case _: UnsupportedOperationException =>
            super.setPermission(p, permission)
        }
      }
  }
}
