package graft

import graft.app.ExtractJob
import graft.core.Transcripts
import graft.extract.Extract
import graft.scale.TableIO
import org.scalatest.funsuite.AnyFunSuite
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
    // remaining buckets, so no write job ever runs, and nothing may wait
    // on metrics that only a write produces: the job must publish.
    val tmp = Files.createTempDirectory("graft_job_resume_full").toString
    Transcripts.synthetic(spark, 200, 10).drop("doc_text")
      .write.parquet(s"$tmp/in")
    TableIO.writeSidecar(spark, s"$tmp/table", "snap-00001", "params",
      "nBuckets=8")
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
    // every bucket written and manifested, one with a count its files do
    // not hold. The retry resumes it (its params match), has no bucket
    // left to write, and must still refuse to publish.
    val tmp = Files.createTempDirectory("graft_job_bad_manifest").toString
    Transcripts.synthetic(spark, 200, 10).drop("doc_text")
      .write.parquet(s"$tmp/in")
    TableIO.writeSidecar(spark, s"$tmp/table", "snap-00001", "params",
      "nBuckets=8")
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
    // only on empty corpora
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
      "nBuckets=8")
    graft.scale.Scale.recordBuckets(spark, s"$tmp/table/snap-00001/manifest",
      Seq(0 -> 10L, 1 -> 10L))
    // retry with DIFFERENT nBuckets: must NOT resume snap-00001 (its "done"
    // bucket ids were computed under the old bucketing and mean other
    // conversations under the new one)
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

  test("a retry that changes only salts resumes the staging snapshot and rewrites no bucket") {
    // salts reaches no plan, so it must not name the staging snapshot: a
    // retry at another salts count writes the same table
    val tmp = Files.createTempDirectory("graft_job_salts").toString
    Transcripts.synthetic(spark, 200, 10).drop("doc_text")
      .write.parquet(s"$tmp/in")
    val (snap, _) = ExtractJob.run(spark, s"$tmp/in", s"$tmp/table",
      nBuckets = 8, salts = 4, cpus = 4)
    SparkTestBase.unpublish(s"$tmp/table", snap)
    val data = new java.io.File(TableIO.dataDir(s"$tmp/table", snap))
    val before = SparkTestBase.mtimesUnder(data)
    assert(before.keys.exists(_.endsWith(".parquet")))
    val (retry, n) = ExtractJob.run(spark, s"$tmp/in", s"$tmp/table",
      nBuckets = 8, salts = 16, cpus = 4)
    assert(retry === snap)
    assert(n === 200)
    assert(SparkTestBase.mtimesUnder(data) === before, "a bucket was rewritten on resume")
    assert(TableIO.currentSnapshot(spark, s"$tmp/table") === Some(snap))
  }

  test("one run over the fixture corpus runs at most MaxJobs Spark jobs") {
    // the write's own shuffle sizes its fan-out: a pass over the input that
    // only guesses it shows here as extra jobs. A multi-wave run pays per
    // wave only its write, and a resume with no bucket left runs no job.
    val tmp = Files.createTempDirectory("graft_job_jobs").toString
    Transcripts.synthetic(spark, 300, 10).drop("doc_text")
      .write.parquet(s"$tmp/in")
    def run(table: String, waves: Int) = SparkTestBase.jobsDuring {
      ExtractJob.run(spark, s"$tmp/in", s"$tmp/$table",
        nBuckets = 8, salts = 4, cpus = 4, waves = waves)
    }
    val ((_, n), jobs) = run("table", 1)
    assert(n === 300)
    assert(jobs <= MaxJobs)
    val ((snap, n4), jobs4) = run("table4", 4)
    assert(n4 === 300)
    assert(jobs4 <= MaxWaveJobs)
    SparkTestBase.unpublish(s"$tmp/table4", snap)
    val ((resumed, nr), jobsResumed) = run("table4", 4)
    assert(resumed === snap)
    assert(nr === 300)
    assert(jobsResumed === 0)
  }

  /** The jobs one fresh single-wave [[ExtractJob.run]] over 300 turns at 8
    * buckets runs on local[4]: the write's shuffle map stage and its
    * writer stage (adaptive execution runs each stage as a job). */
  private val MaxJobs = 2

  /** The same at 4 waves: each wave's shuffle map stage and writer
    * stage, and no job after the last wave. */
  private val MaxWaveJobs = 8
}
