package graft

import graft.app.ExtractJob
import graft.core.Transcripts
import graft.extract.Extract
import graft.scale.TableIO
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import java.nio.file.Files

/** End-to-end job flow: extraction kernel → resumable bucketed write inside
  * an unpublished snapshot → atomic publish; rerun publishes a NEW
  * snapshot (never mutates the old one). */
class ExtractJobSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("job publishes a snapshot equal to the kernel output; rerun adds v2") {
    val tmp = Files.createTempDirectory("graft_job").toString
    Transcripts.synthetic(spark, 300, 10).drop("doc_text")
      .write.parquet(s"$tmp/in")

    val (snap1, n1) = ExtractJob.run(spark, s"$tmp/in", s"$tmp/table",
      nBuckets = 8, salts = 4, cpus = 4)
    assert(snap1 === "snap-00001")
    assert(n1 === 300)
    assert(TableIO.currentSnapshot(spark, s"$tmp/table") === Some(snap1))
    val published = TableIO.readTable(spark, s"$tmp/table")
      .select("conv_id", "turn_idx", "text")
    val expected = Extract.pipeline(spark.read.parquet(s"$tmp/in"))
      .select("conv_id", "turn_idx", "text")
    assert(published.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(published).count() === 0)

    val (snap2, n2) = ExtractJob.run(spark, s"$tmp/in", s"$tmp/table",
      nBuckets = 8, salts = 4, cpus = 4)
    assert(snap2 === "snap-00002")
    assert(n2 === 300)
    assert(TableIO.currentSnapshot(spark, s"$tmp/table") === Some(snap2))
    // v1 untouched — time travel still exact
    assert(TableIO.readTable(spark, s"$tmp/table", Some(snap1)).count() === 300)
  }

  test("resume of a fully-written unpublished snapshot completes and publishes") {
    // crash window: the write + manifest finished but the job died before
    // TableIO.publish. The retry resumes the staging snapshot with ZERO
    // remaining buckets, so no write job ever runs — an Observation
    // attached to the pipeline would block forever on .get (round-4 review
    // finding); the job must fall back to post-hoc metrics and publish.
    val tmp = Files.createTempDirectory("graft_job_resume_full").toString
    Transcripts.synthetic(spark, 200, 10).drop("doc_text")
      .write.parquet(s"$tmp/in")
    TableIO.writeSidecar(spark, s"$tmp/table", "snap-00001", "params",
      "nBuckets=8\nsalts=4")
    graft.scale.Scale.resumableWrite(
      Extract.pipeline(spark.read.parquet(s"$tmp/in")),
      TableIO.dataDir(s"$tmp/table", "snap-00001"),
      s"$tmp/table/snap-00001/manifest", nBuckets = 8)
    assert(TableIO.currentSnapshot(spark, s"$tmp/table") === None)

    val (snap, n) = ExtractJob.run(spark, s"$tmp/in", s"$tmp/table",
      nBuckets = 8, salts = 4, cpus = 4)
    assert(snap === "snap-00001")
    assert(n === 200)
    assert(TableIO.currentSnapshot(spark, s"$tmp/table") === Some("snap-00001"))
    assert(TableIO.readTable(spark, s"$tmp/table").count() === 200)
  }

  test("a staging snapshot whose manifest disagrees with its data never publishes") {
    // what a failed total check leaves behind: every bucket written and
    // manifested, one with a wrong count. The retry resumes it (its params
    // match), runs no write, and must still refuse to publish.
    val tmp = Files.createTempDirectory("graft_job_bad_manifest").toString
    Transcripts.synthetic(spark, 200, 10).drop("doc_text")
      .write.parquet(s"$tmp/in")
    TableIO.writeSidecar(spark, s"$tmp/table", "snap-00001", "params",
      "nBuckets=8\nsalts=4")
    val manifest = s"$tmp/table/snap-00001/manifest"
    graft.scale.Scale.resumableWrite(
      Extract.pipeline(spark.read.parquet(s"$tmp/in")),
      TableIO.dataDir(s"$tmp/table", "snap-00001"), manifest, nBuckets = 8)
    graft.scale.Scale.recordBuckets(spark, manifest, Seq(0 -> 1000L))
    Seq(1, 2).foreach { _ =>
      intercept[IllegalStateException] {
        ExtractJob.run(spark, s"$tmp/in", s"$tmp/table", nBuckets = 8, salts = 4, cpus = 4)
      }
      assert(TableIO.currentSnapshot(spark, s"$tmp/table") === None)
    }
  }

  test("an input whose column types differ from the turn schema publishes nothing") {
    // the job reads its input with the declared Turn.schema: a BIGINT
    // turn_idx fails the read instead of flowing on as another type
    val tmp = Files.createTempDirectory("graft_job_schema").toString
    Transcripts.synthetic(spark, 100, 10).drop("doc_text")
      .withColumn("turn_idx", org.apache.spark.sql.functions.col("turn_idx").cast("long"))
      .write.parquet(s"$tmp/in")
    val e = intercept[org.apache.spark.SparkException] {
      ExtractJob.run(spark, s"$tmp/in", s"$tmp/table", nBuckets = 8, salts = 4, cpus = 4)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("turn_idx")), e)
    assert(TableIO.currentSnapshot(spark, s"$tmp/table") === None)
  }

  test("zero-row corpus publishes a readable snapshot WITH the bucket column") {
    // the empty placeholder parquet must carry the `bucket` partition column
    // a committed bucketed write exposes via its bucket= dirs — otherwise a
    // reader selecting `bucket` works on every non-empty snapshot and fails
    // only on empty corpora (round-4 ADVICE schema asymmetry)
    val tmp = Files.createTempDirectory("graft_job_empty").toString
    Transcripts.synthetic(spark, 10, 5).drop("doc_text")
      .filter("turn_idx < 0") // empty, schema intact
      .write.parquet(s"$tmp/in")
    val (snap, n) = ExtractJob.run(spark, s"$tmp/in", s"$tmp/table",
      nBuckets = 8, salts = 4, cpus = 4)
    assert(n === 0)
    val published = TableIO.readTable(spark, s"$tmp/table", Some(snap))
    assert(published.count() === 0)
    // same projection a non-empty snapshot serves — incl. the partition col
    assert(published.select("conv_id", "turn_idx", "text", "bucket")
      .count() === 0)
  }

  test("resume with different bucketing starts fresh, never mixes manifests") {
    val tmp = Files.createTempDirectory("graft_job_params").toString
    Transcripts.synthetic(spark, 200, 10).drop("doc_text")
      .write.parquet(s"$tmp/in")
    // simulate a FAILED first attempt at nBuckets=8: staging snapshot with
    // params + a partial manifest exists, but was never published
    TableIO.writeSidecar(spark, s"$tmp/table", "snap-00001", "params",
      "nBuckets=8\nsalts=4")
    graft.scale.Scale.recordBuckets(spark, s"$tmp/table/snap-00001/manifest",
      Seq(0 -> 10L, 1 -> 10L))
    // retry with DIFFERENT nBuckets: must NOT resume snap-00001 (its "done"
    // buckets were computed under the old bucketing — round-2 ADVICE)
    val (snap, n) = ExtractJob.run(spark, s"$tmp/in", s"$tmp/table",
      nBuckets = 16, salts = 4, cpus = 4)
    assert(snap === "snap-00002")
    assert(n === 200)
    assert(TableIO.readTable(spark, s"$tmp/table").count() === 200)
    // same-params retry DOES resume the (now published) latest... a new run
    // with the original failed params also starts fresh rather than reviving
    // the stale staging snapshot
    val (snap3, n3) = ExtractJob.run(spark, s"$tmp/in", s"$tmp/table",
      nBuckets = 8, salts = 4, cpus = 4)
    assert(snap3 === "snap-00003")
    assert(n3 === 200)
  }

  test("the per-bucket count runs before the write without the kernel") {
    val tmp = Files.createTempDirectory("graft_job_prepass").toString
    Transcripts.synthetic(spark, 300, 10).drop("doc_text")
      .write.parquet(s"$tmp/in")
    val collected = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "collect") collected.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val (_, n) = ExtractJob.run(spark, s"$tmp/in", s"$tmp/table",
        nBuckets = 8, salts = 4, cpus = 4)
      assert(n === 300)
      // the count is the job's only collect over the bucket hash
      eventually(timeout(30.seconds)) {
        assert(collected.toArray.exists(_.toString.contains("xxhash64")))
      }
    } finally spark.listenerManager.unregister(listener)
    val counts = collected.toArray.map(_.toString).filter(_.contains("xxhash64"))
    counts.foreach { plan =>
      assert(!plan.contains("extract_turn"), plan)
      assert(plan.contains("ReadSchema: struct<conv_id:string>"), plan)
    }
  }
}
