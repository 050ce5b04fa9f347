package graft.core

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file:` filesystem (`.crc` sidecars are written and
  * verified as before), with permissions set through java.nio. Without a
  * native libhadoop, `RawLocalFileSystem.setPermission` forks a `chmod`
  * process for every file, `.crc` sidecar and directory it creates: parquet
  * part files, `_temporary` dirs, RDD checkpoint files. GraftSession
  * installs this class as `fs.file.impl`. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  /** The nine `rwx` bits, highest first, in PosixFilePermission's order. */
  private val Bits = PosixFilePermission.values.toSeq.zip((0 until 9).map(0x100 >> _))

  class Raw extends RawLocalFileSystem {
    /** A mode with bits beyond `0777` (sticky) keeps Hadoop's own path. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        Bits.collect { case (perm, bit) if (mode & bit) != 0 => perm }.toSet.asJava): Unit
    }
  }
}
