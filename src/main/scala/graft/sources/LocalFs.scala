package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system, except that permissions are
  * set in-process. Without Hadoop's native library the stock
  * `RawLocalFileSystem.setPermission` forks a `chmod` for every file
  * and directory a write creates (Spark's committer and its `.crc`
  * twins make that ~50 processes per ingest batch). Here the nine
  * `rwx` bits go through `Files.setPosixFilePermissions`, which is what
  * `NativeIO.POSIX.chmod` does when the native library is present, so
  * the bytes and modes on disk are the stock ones. A sticky bit, which
  * NIO cannot set, takes the stock path.
  *
  * `src/main/resources/core-site.xml` binds it to the `file` scheme
  * (`fs.file.impl`); Hadoop reads that file from the classpath into
  * every `Configuration`, so Spark's writers and graft's stores all get
  * it. A deployment whose own `core-site.xml` comes earlier on the
  * classpath keeps Hadoop's stock local file system. HDFS and object
  * stores never fork a `chmod` and are not affected. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** The raw file system under the checksums. Hadoop creates files and
    * directories through this `setPermission`, a virtual call. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, bits(mode))
    }
  }

  /** The `rwx` bits of `mode` as NIO permissions; `values` runs from
    * owner-read (0400) to others-execute (0001). */
  private def bits(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values.zipWithIndex
      .collect { case (b, i) if (mode & (0x100 >> i)) != 0 => b }.toSet.asJava
}
