package graft

import graft.scale.{Scale, TableIO}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Snapshot/atomic-commit semantics of the parquet table layer (S7 —
  * Iceberg-shaped fallback): readers resolve an immutable snapshot, a
  * publish never tears a concurrent read, failed writes never become
  * visible, time travel works. */
class TableIOSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Write `df` as the table's next snapshot the way the jobs do, a
    * resumable bucketed write into an unpublished snapshot, then publish
    * it. Returns the snapshot name. */
  private def snapshotWrite(df: DataFrame, dir: String): String = {
    val snap = TableIO.nextSnapshotName(spark, dir)
    Scale.resumableWrite(df, TableIO.dataDir(dir, snap), s"$dir/$snap/manifest", nBuckets = 4)
    TableIO.publish(spark, dir, snap)
    snap
  }

  test("snapshot write + publish + read round-trip, then time travel") {
    val dir = Files.createTempDirectory("graft_table").toString
    val v1 = (0 until 10).map(i => ("c1", i, s"text$i")).toDF("conv_id", "turn_idx", "text")
    val s1 = snapshotWrite(v1, dir)
    assert(s1 === "snap-00001")
    assert(TableIO.currentSnapshot(spark, dir) === Some("snap-00001"))
    assert(TableIO.readTable(spark, dir).count() === 10)

    val v2 = (0 until 25).map(i => ("c2", i, s"new$i")).toDF("conv_id", "turn_idx", "text")
    val s2 = snapshotWrite(v2, dir)
    assert(s2 === "snap-00002")
    // published view is v2; v1 is still fully readable via time travel
    assert(TableIO.readTable(spark, dir).count() === 25)
    assert(TableIO.readTable(spark, dir, Some("snap-00001")).count() === 10)
  }

  test("a reader holding the old snapshot is untouched by a publish") {
    val dir = Files.createTempDirectory("graft_table2").toString
    snapshotWrite(Seq(("a", 0, "x")).toDF("conv_id", "turn_idx", "text"), dir)
    // reader resolves the pointer ONCE (what a query plan does at analysis)
    val pinned = TableIO.currentSnapshot(spark, dir).get
    val readerView = TableIO.readTable(spark, dir, Some(pinned))
    // writer publishes two more snapshots meanwhile
    snapshotWrite(Seq(("b", 0, "y"), ("b", 1, "z")).toDF("conv_id", "turn_idx", "text"), dir)
    snapshotWrite(Seq(("c", 0, "w")).toDF("conv_id", "turn_idx", "text"), dir)
    // the pinned reader still sees exactly the old, complete data
    assert(readerView.select("conv_id").as[String].collect().toSeq === Seq("a"))
    assert(TableIO.readTable(spark, dir).select("conv_id").distinct()
      .as[String].collect().toSeq === Seq("c"))
  }

  test("readers open exactly the manifest's files, never a dir listing") {
    val dir = Files.createTempDirectory("graft_table_mf").toString
    val s1 = snapshotWrite(
      (0 until 5).map(i => ("a", i, s"t$i")).toDF("conv_id", "turn_idx", "text"), dir)
    val mf = TableIO.filesManifest(spark, dir, s1)
    assert(mf.isDefined && mf.get.nonEmpty, "publish must commit files.list")
    // a stray file dropped into the data dir AFTER publish (e.g. a zombie
    // task attempt) is invisible: readers resolve the manifest, not ls
    Seq(("zombie", 99, "junk")).toDF("conv_id", "turn_idx", "text")
      .write.mode("append").parquet(TableIO.dataDir(dir, s1))
    assert(TableIO.readTable(spark, dir).count() === 5)
    assert(!TableIO.readTable(spark, dir).select("conv_id").as[String]
      .collect().contains("zombie"))
  }

  test("files.list of a bucketed snapshot names every bucket data file") {
    val dir = Files.createTempDirectory("graft_table_buckets").toString
    val snap = TableIO.nextSnapshotName(spark, dir)
    val dd = TableIO.dataDir(dir, snap)
    (0 until 40).map(i => (s"c${i % 7}", i, s"t$i", i % 5)).toDF("conv_id", "turn_idx", "text", "bucket")
      .repartition(3).write.partitionBy("bucket").parquet(dd)
    TableIO.publish(spark, dir, snap)
    val expected = new java.io.File(dd).listFiles().toSeq
      .filter(d => d.isDirectory && d.getName.startsWith("bucket="))
      .flatMap(d => d.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
        .map(f => s"${d.getName}/${f.getName}"))
    assert(expected.size >= 5)
    assert(TableIO.filesManifest(spark, dir, snap) === Some(expected.sorted))
    assert(TableIO.readTable(spark, dir).count() === 40)
  }

  test("pointer loss falls back to the newest COMPLETE snapshot") {
    val dir = Files.createTempDirectory("graft_table_ptr").toString
    snapshotWrite(Seq(("a", 0, "x")).toDF("conv_id", "turn_idx", "text"), dir)
    snapshotWrite(Seq(("b", 0, "y")).toDF("conv_id", "turn_idx", "text"), dir)
    // a third snapshot's data lands but its manifest/pointer never commit
    Seq(("c", 0, "torn")).toDF("conv_id", "turn_idx", "text")
      .write.parquet(s"$dir/snap-00003/data")
    new java.io.File(s"$dir/_CURRENT").delete()
    // reader self-heals: newest snapshot WITH a committed manifest is 00002
    assert(TableIO.readTable(spark, dir).select("conv_id").as[String]
      .head() === "b")
  }

  test("unpublished data is invisible; expire keeps the published snapshot") {
    val dir = Files.createTempDirectory("graft_table3").toString
    val s1 = snapshotWrite(Seq(("a", 0, "x")).toDF("conv_id", "turn_idx", "text"), dir)
    // simulate a failed job: data lands in a snapshot dir but is never published
    Seq(("junk", 9, "torn")).toDF("conv_id", "turn_idx", "text")
      .write.parquet(s"$dir/snap-00002/data")
    assert(TableIO.currentSnapshot(spark, dir) === Some(s1))
    assert(TableIO.readTable(spark, dir).count() === 1) // torn write invisible
    // next snapshotWrite numbers PAST the orphan and publishes cleanly
    val s3 = snapshotWrite(Seq(("b", 0, "y")).toDF("conv_id", "turn_idx", "text"), dir)
    assert(s3 === "snap-00003")
    assert(TableIO.readTable(spark, dir).select("conv_id").as[String].head() === "b")
    TableIO.expireSnapshots(spark, dir, keep = 1)
    assert(TableIO.snapshots(spark, dir) === Seq("snap-00003"))
  }
}
