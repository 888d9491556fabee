package graft.util

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system with one change: `setPermission` applies
  * the mode bits through `java.nio.file.Files.setPosixFilePermissions`
  * instead of a forked `chmod`.
  *
  * Without the native Hadoop library, the stock `RawLocalFileSystem`
  * shells out to `chmod` for every file it creates and every directory it
  * makes with a mode: each parquet data file, its `.crc` sidecar and each
  * task-attempt dir. A small write job forks about 31 of them, and the JDK
  * writes the whole process environment down the spawn helper's pipe for
  * every child, so the fixed cost of a write grew with the environment.
  * The bits applied are the same ones the stock path passes to `chmod`.
  * A sticky bit, which NIO cannot express, and a file system without POSIX
  * attributes take the stock path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath,
        // "rwxr-x---": FsPermission prints exactly the nine bits
        java.nio.file.attribute.PosixFilePermissions.fromString(permission.toString))
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
}

/** The checksummed local file system over [[NioRawLocalFileSystem]]: the
  * `file:` scheme a write resolves through [[Fs.writeParquet]]. It is a
  * `LocalFileSystem`, so `.crc` sidecars are still written on create and
  * verified on read, exactly as by the stock `file:` implementation.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)
