package graft

import graft.scale.{NioLocalFileSystem, Scale}
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

/** The `file:` filesystem contract the engine's writers rely on: rename
  * never overwrites a file, and permission bits (after the umask) land
  * exactly as requested, with checksum files beside the data. */
class LocalFileSystemSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  /** An uncached `file:` filesystem from `s`'s Hadoop configuration. */
  private def fileFs(s: SparkSession): FileSystem =
    FileSystem.newInstance(new URI("file:///"), s.sessionState.newHadoopConf())

  private def fileFsClass(s: SparkSession): Class[_] = {
    val fs = fileFs(s)
    try fs.getClass finally fs.close()
  }

  private def mode(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  private def write(fs: FileSystem, p: Path, text: String, perm: FsPermission): Unit = {
    val out = fs.create(p, perm, true, 4096, 1.toShort, 1L << 20, null)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  private def read(p: String): String = Files.readString(Paths.get(p))

  test("renaming onto an existing file returns false and leaves both files") {
    val dir = Files.createTempDirectory("graft_rename").toString
    val fs = fileFs(spark)
    try {
      val (a, b) = (new Path(s"$dir/a"), new Path(s"$dir/b"))
      write(fs, a, "a", FsPermission.getFileDefault)
      write(fs, b, "b", FsPermission.getFileDefault)
      assert(!fs.rename(a, b))
      assert(read(s"$dir/a") === "a")
      assert(read(s"$dir/b") === "b")
      // onto a free name the rename goes through, checksum file included
      assert(fs.rename(a, new Path(s"$dir/c")))
      assert(!Files.exists(Paths.get(s"$dir/a")))
      assert(read(s"$dir/c") === "a")
      assert(Files.exists(Paths.get(s"$dir/.c.crc")))
    } finally fs.close()
  }

  test("created files and directories get exactly the requested bits after the umask") {
    val dir = Files.createTempDirectory("graft_perms").toString
    val fs = fileFs(spark)
    // stock Hadoop local filesystem: the reference for the checksum file
    val stock = new LocalFileSystem()
    stock.initialize(new URI("file:///"), spark.sessionState.newHadoopConf())
    try {
      write(fs, new Path(s"$dir/f640"), "x", new FsPermission("640"))
      assert(mode(s"$dir/f640") === "rw-r-----")
      assert(fs.mkdirs(new Path(s"$dir/d750"), new FsPermission("750")))
      assert(mode(s"$dir/d750") === "rwxr-x---")
      // the default umask (022) still applies
      write(fs, new Path(s"$dir/f666"), "x", new FsPermission("666"))
      assert(mode(s"$dir/f666") === "rw-r--r--")
      assert(fs.mkdirs(new Path(s"$dir/d777/sub"), new FsPermission("777")))
      assert(mode(s"$dir/d777") === "rwxr-xr-x")
      assert(mode(s"$dir/d777/sub") === "rwxr-xr-x")
      write(stock, new Path(s"$dir/ref640"), "x", new FsPermission("640"))
      assert(mode(s"$dir/.f640.crc") === mode(s"$dir/.ref640.crc"))
    } finally { fs.close(); stock.close() }
  }

  test("file: resolves to NioLocalFileSystem in configured and local job sessions") {
    assert(fileFsClass(spark) === classOf[NioLocalFileSystem])
    assume(!sys.env.contains("SPARK_MASTER"), "jobSession would start a cluster session")
    // on a local master jobSession joins the running session and sets its
    // shuffle partitions from SPARK_GRAFT_CPUS; the other suites expect 4
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try assert(fileFsClass(Scale.jobSession("graft-test-job")) === classOf[NioLocalFileSystem])
    finally spark.conf.set("spark.sql.shuffle.partitions", partitions)
  }
}
