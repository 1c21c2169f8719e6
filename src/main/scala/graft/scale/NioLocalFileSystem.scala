package graft.scale

import java.io.FileNotFoundException
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The `file:` filesystem of every session [[Scale.defaults]] builds
  * (`spark.hadoop.fs.file.impl`): Hadoop's checksummed `LocalFileSystem`,
  * except that permissions are set with a syscall instead of a process.
  *
  * Why it exists: without native Hadoop (`NativeIO.isAvailable` false),
  * `RawLocalFileSystem.setPermission` forks `chmod` for every data file,
  * its `.crc` file and every directory a writer creates, at a few ms per
  * fork; a 64-bucket write starts hundreds of them. Here
  * `Files.setPosixFilePermissions` makes the chmod(2) call native Hadoop
  * makes, with the same bits: the umask is applied by the caller as
  * before, and checksums are untouched. It defers to Hadoop's own path
  * when native Hadoop is loaded, for a permission with the sticky bit
  * (which `PosixFilePermission` cannot spell), and on a non-POSIX
  * filesystem.
  *
  * Rename contract: it keeps the `file:` semantics Spark's bundled
  * hive-exec registers (`ProxyLocalFileSystem`, which it replaces):
  * renaming onto an existing FILE returns false and changes nothing.
  *
  * FileSystem-cache caveat: Hadoop caches one instance per scheme and
  * user, whatever the configuration. A `file:` instance cached before the
  * session was configured (a `FileSystem.get` on a plain `Configuration`)
  * is what later `get` calls return, and it keeps forking;
  * `FileSystem.newInstance` bypasses the cache. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw) {

  override def rename(src: Path, dst: Path): Boolean =
    !isExistingFile(dst) && super.rename(src, dst)

  private def isExistingFile(p: Path): Boolean =
    try getFileStatus(p).isFile
    catch { case _: FileNotFoundException => false }
}

object NioLocalFileSystem {

  private lazy val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** `PosixFilePermission` is declared owner-read first, others-execute
    * last: value i is mode bit 0400 >> i. */
  private def posixPermissions(mode: Int): java.util.Set[PosixFilePermission] = {
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((mode & (256 >> p.ordinal)) != 0) perms.add(p)
    }
    perms
  }

  private[scale] class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (NativeIO.isAvailable || permission.getStickyBit || !posix)
        super.setPermission(p, permission)
      else
        Files.setPosixFilePermissions(pathToFile(p).toPath,
          posixPermissions(permission.toShort.toInt))
  }
}
