package graft.io

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local `file:` filesystem without a process start per
  * permission change. Without `libhadoop` (no `NativeIO`),
  * `RawLocalFileSystem.setPermission` runs `chmod` in a child process,
  * and every `mkdirs` and `create` calls it: a Spark write pays that for
  * its job and task attempt dirs, each part file and its `.crc`, and
  * `_SUCCESS` (measured on 4 vCPUs: 3.4 ms a `mkdirs` and 7.2 ms a
  * `create`+`close`, against 0.05 ms and 0.23 ms here). Here the same
  * nine mode bits are set through `Files.setPosixFilePermissions`. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** The Hadoop settings that route `file:` paths through [[LocalFs]].
    * Hadoop caches `file:` instances by scheme, not by conf, so the
    * implementation key alone would be ignored once any caller has
    * cached the stock class: these settings bypass the cache. Usable as
    * write options (Spark merges them into the write's Hadoop conf) or
    * set on a `Configuration`. */
  val options: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  final class Raw extends RawLocalFileSystem {
    /** The sticky bit (the one bit above 0777 `FsPermission` holds) has
      * no `PosixFilePermission`, and a non-POSIX filesystem has no mode
      * bits: both take the stock path. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (!posix || permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString)) // "rwxr-x---"
  }
}
