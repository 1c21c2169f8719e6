package graft

import graft.app.CurationJob
import graft.corpus.{Curation, Packing}
import graft.dedup.Dedup
import graft.scale.{Scale, TableIO}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The corpus-build job: its staged stages must land on exactly the
  * composed chain's result and on q82's, the stage manifests must make the
  * build resumable, and an empty stage must still publish. */
class CurationJobSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val srcDir = "/root/testdata/sf0.001"

  private def composedExpected(in: String) = {
    val docs = spark.read.parquet(s"$in/documents.parquet")
    val quality = docs.select(col("doc_id"), col("text"), col("lang"),
        graft.textstats.TextStats.qualityScorePpm(col("text"),
          graft.text.Normalize.DefaultStops).as("quality_ppm"))
      .filter(col("quality_ppm") >= 650000L)
    val keepers = Dedup.exact(quality, "doc_id", "text")
      .filter(col("keep")).select("doc_id")
    val unique = quality.join(keepers, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("text"), col("lang"),
        split(col("text"), " ").as("tokens"))
    val nearDropped = Dedup.minhashLshMd5(
        unique.select(col("doc_id"), col("tokens")),
        "doc_id", "tokens", k = 3, numHashes = 16, bands = 4)
      .filter(col("est_jaccard") >= 0.5)
      .select(col("key_b").as("doc_id")).distinct()
    val surv = unique.join(nearDropped, Seq("doc_id"), "left_anti")
    val bench = docs.filter(col("doc_id") % 97 === 0)
      .select(split(col("text"), " ").as("tokens"))
    val contam = Curation.contaminated(surv, bench, "doc_id", "tokens",
      k = 4).select("doc_id")
    val clean = surv.join(contam, Seq("doc_id"), "left_anti")
    val kept = Curation.sampleToBalanced(
      clean.select(col("doc_id"), col("lang")), "doc_id", "lang")
    Packing.packSpans(
      clean.join(kept.select("doc_id"), Seq("doc_id"))
        .select(col("doc_id"), col("text")),
      "doc_id", "text", blockTokens = 256, bucketSize = 4096L)
  }

  test("staged job result equals the single-job composition, and publishes atomically") {
    val work = java.nio.file.Files.createTempDirectory("curation_job").toString
    val table = s"$work/corpus_blocks"
    val (snap, written) = CurationJob.run(spark,
      s"$srcDir/documents.parquet", table, nBuckets = 8, waves = 2)
    assert(written > 0)
    // the published pointer resolves to the snapshot just built
    assert(graft.scale.TableIO.currentSnapshot(spark, table) === Some(snap))
    val got = spark.read
      .parquet(graft.scale.TableIO.dataDir(table, snap))
      .select("pack_id", "doc_id", "start_tok", "end_tok")
      .collect().map(_.toSeq).toSet
    val expected = composedExpected(srcDir)
      .collect().map(_.toSeq).toSet
    assert(got === expected)
    assert(got.size.toLong === written)
    // the stage boundary is manifest-guarded (what makes a retry resume
    // instead of recompute) — every bucket of stage_clean is recorded
    assert(graft.scale.Scale.manifestRows(spark,
      s"$table/$snap/stage_clean/manifest").size === 8)
  }

  test("one run over the fixture corpus runs at most MaxJobs Spark jobs") {
    // every job is a scheduling round trip and, at scale, a corpus pass: a
    // shuffle or a driver-side step that creeps back into the chain shows
    // here first
    val table = java.nio.file.Files.createTempDirectory("curation_job_jobs")
      .toString + "/corpus_blocks"
    val (_, jobs) = SparkTestBase.jobsDuring {
      CurationJob.run(spark, s"$srcDir/documents.parquet", table, nBuckets = 8)
    }
    assert(jobs <= MaxJobs)
  }

  /** The jobs one [[CurationJob.run]] over the sf0.001 documents at 8
    * buckets and one wave runs on local[4]: 17 for stage_clean's write, 2
    * for the mixture sampler's per-language counts and 8 for the block
    * map's write (adaptive execution runs each shuffle stage as a job). */
  private val MaxJobs = 27

  private val blockCols = Seq("pack_id", "doc_id", "start_tok", "end_tok")

  private def published(table: String) =
    TableIO.readTable(spark, table).select(blockCols.map(col): _*)
      .collect().map(_.toSeq).toSet

  test("the job publishes q82_corpus_build's block map at sf0.01") {
    val sf = "/root/testdata/sf0.01"
    val table = java.nio.file.Files.createTempDirectory("curation_job_q82")
      .toString + "/corpus_blocks"
    val (_, written) = CurationJob.run(spark, s"$sf/documents.parquet", table,
      nBuckets = 8)
    val got = published(table)
    assert(got.size.toLong === written)
    val q82 = SparkEntry.queries("q82_corpus_build")(spark, sf)
      .select(blockCols.map(col): _*).collect().map(_.toSeq).toSet
    assert(got === q82)
  }

  test("no doc passing the quality gate publishes an empty snapshot with the bucket column") {
    // every stage is empty: each staged write commits no bucket dir, so
    // reading a stage back must not depend on inferring a schema from files
    val work = java.nio.file.Files.createTempDirectory("curation_job_empty").toString
    val in = s"$work/documents.parquet"
    spark.read.parquet(s"$srcDir/documents.parquet")
      .withColumn("text", lit("1.2.3.4.5.6.7.8")) // score ~5000 ppm
      .write.parquet(in)
    val table = s"$work/corpus_blocks"
    Seq("snap-00001", "snap-00002").foreach { want =>
      val (snap, written) = CurationJob.run(spark, in, table, nBuckets = 8)
      assert(snap === want)
      assert(written === 0L)
      assert(TableIO.currentSnapshot(spark, table) === Some(snap))
      assert(TableIO.readTable(spark, table)
        .select((blockCols :+ "bucket").map(col): _*).count() === 0)
    }
  }

  test("an input whose column types differ from the documents schema publishes nothing") {
    // the job reads its input with the declared Documents.schema: a STRING
    // doc_id fails the read instead of flowing on as another type (an INT
    // one would not: Spark widens INT32 to BIGINT on read)
    val work = java.nio.file.Files.createTempDirectory("curation_job_schema").toString
    val in = s"$work/documents.parquet"
    spark.read.parquet(s"$srcDir/documents.parquet")
      .withColumn("doc_id", col("doc_id").cast("string"))
      .write.parquet(in)
    val table = s"$work/corpus_blocks"
    val e = intercept[org.apache.spark.SparkException] {
      CurationJob.run(spark, in, table, nBuckets = 8)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("doc_id")), e)
    assert(TableIO.currentSnapshot(spark, table) === None)
  }

  test("a run killed between stage_clean and publish resumes without rewriting stage_clean") {
    val table = java.nio.file.Files.createTempDirectory("curation_job_kill")
      .toString + "/corpus_blocks"
    val (snap, _) = CurationJob.run(spark, s"$srcDir/documents.parquet", table,
      nBuckets = 8, waves = 2)
    assert(snap === "snap-00001")
    val clean = published(table)
    // what a kill after stage_clean's last wave leaves: no pointer, no
    // file manifest, no block map and no block-map manifest
    val snapDir = new java.io.File(s"$table/$snap")
    Seq(s"$table/_CURRENT", s"$table/$snap/files.list", s"$table/$snap/data",
        s"$table/$snap/manifest").foreach { p =>
      val f = new java.io.File(p)
      assert(f.exists, p)
      org.apache.commons.io.FileUtils.forceDelete(f)
    }
    def files(dir: java.io.File): Seq[java.io.File] =
      dir.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    def mtimes = files(new java.io.File(snapDir, "stage_clean"))
      .map(f => f.getPath -> f.lastModified).toMap
    val before = mtimes
    assert(before.keys.exists(_.endsWith(".parquet")))
    val (retry, written) = CurationJob.run(spark, s"$srcDir/documents.parquet", table,
      nBuckets = 8, waves = 2)
    assert(retry === "snap-00001")
    assert(TableIO.currentSnapshot(spark, table) === Some(retry))
    assert(mtimes === before, "stage_clean was rewritten on resume")
    val got = published(table)
    assert(got === clean)
    assert(written === got.size.toLong)
  }

  test("a staging snapshot whose stage_clean manifest disagrees with its files never publishes") {
    // what a kill before publish leaves, with bucket 0 of stage_clean
    // manifested at a count its files do not hold: the retry resumes the
    // snapshot (its params match) and must refuse it, every time
    val table = java.nio.file.Files.createTempDirectory("curation_job_bad_manifest")
      .toString + "/corpus_blocks"
    val (snap, _) = CurationJob.run(spark, s"$srcDir/documents.parquet", table, nBuckets = 8)
    SparkTestBase.unpublish(table, snap)
    Scale.recordBuckets(spark, s"$table/$snap/stage_clean/manifest", Seq(0 -> 100000L))
    Seq(1, 2).foreach { _ =>
      val e = intercept[IllegalStateException] {
        CurationJob.run(spark, s"$srcDir/documents.parquet", table, nBuckets = 8)
      }
      assert(e.getMessage.contains("stage_clean"), e.getMessage)
      assert(TableIO.currentSnapshot(spark, table) === None)
    }
  }

  test("a retry with a different nBuckets starts a fresh snapshot") {
    // a failed attempt at nBuckets = 8 left its params and a partial
    // stage_clean manifest in an unpublished snapshot; its done bucket ids
    // mean nothing under 16 buckets
    val table = java.nio.file.Files.createTempDirectory("curation_job_params")
      .toString + "/corpus_blocks"
    TableIO.writeSidecar(spark, table, "snap-00001", "params",
      "nBuckets=8\nblockTokens=256")
    Scale.recordBuckets(spark, s"$table/snap-00001/stage_clean/manifest",
      Seq(0 -> 10L, 1 -> 10L))
    val (snap, written) = CurationJob.run(spark,
      s"$srcDir/documents.parquet", table, nBuckets = 16)
    assert(snap === "snap-00002")
    assert(Scale.manifestRows(spark,
      s"$table/snap-00002/stage_clean/manifest").size === 16)
    val got = published(table)
    assert(got.size.toLong === written)
    assert(got === composedExpected(srcDir).collect().map(_.toSeq).toSet)
  }
}
