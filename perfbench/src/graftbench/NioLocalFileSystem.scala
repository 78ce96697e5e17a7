package graftbench

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Local file system for the streaming checkpoint. Without Hadoop's native
  * library, RawLocalFileSystem sets a file's permissions by starting a
  * `chmod` process, once per file it creates; every micro-batch creates
  * several (offsets, commits, state deltas). This subclass sets them through
  * java.nio instead, so the state store's commit time measures writing the
  * state, not process creation. Selected with `spark.hadoop.fs.file.impl`. */
class NioLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toString.take(9).map {
      case 't' => 'x'
      case 'T' => '-'
      case c => c
    }
    Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(bits))
  }
}
