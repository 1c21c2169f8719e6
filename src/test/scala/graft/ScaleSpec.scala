package graft

import graft.core.Transcripts
import graft.extract.Extract
import graft.scale.{Scale, TableIO}
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** FIXTURES.md families 9 (resume/lineage) and 4 (skew): idempotent resume
  * under partial failure, and salting bounds on skewed conversations. */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("resumable write: partial manifest → identical final table, done buckets skipped") {
    val tmp = Files.createTempDirectory("graft_resume").toString
    val out1 = s"$tmp/full"; val man1 = s"$tmp/man_full"
    val out2 = s"$tmp/resumed"; val man2 = s"$tmp/man_resumed"
    val turns = Transcripts.synthetic(spark, 500, 10).drop("doc_text")
    val result = Extract.pipeline(turns)

    // straight-through run
    val n1 = Scale.resumableWrite(result, out1, man1, nBuckets = 8)

    // simulate a failed run that completed buckets {0,1,2}: pre-write those
    // buckets and their manifest rows, then "resume"
    val withBucket = result.withColumn("bucket", Scale.bucketCol(8))
    withBucket.filter(col("bucket") < 3)
      .write.mode("overwrite").partitionBy("bucket").parquet(out2)
    Scale.recordBuckets(spark, man2,
      (0 until 3).map(b => b -> spark.read.parquet(s"$out2/bucket=$b").count()))
    val preDone = Scale.manifestRows(spark, man2).keySet
    assert(preDone === Set(0, 1, 2))
    val n2 = Scale.resumableWrite(result, out2, man2, nBuckets = 8)

    assert(n1 === n2)
    val a = spark.read.parquet(out1).select("conv_id", "turn_idx", "text")
    val b = spark.read.parquet(out2).select("conv_id", "turn_idx", "text")
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
    // second resume is a no-op on buckets (all recorded)
    assert(Scale.manifestRows(spark, man2).keySet === (0 until 8).toSet)
  }

  /** File name -> mtime of every file directly under `dir`. */
  private def mtimes(dir: java.io.File): Map[String, Long] =
    dir.listFiles().map(f => f.getName -> f.lastModified).toMap

  test("wave-chunked write: same table as one-shot, done waves not rewritten") {
    val tmp = Files.createTempDirectory("graft_waves").toString
    val oneShot = s"$tmp/one"; val manOne = s"$tmp/man_one"
    val waved = s"$tmp/waved"; val manWaved = s"$tmp/man_waved"
    val turns = Transcripts.synthetic(spark, 500, 10).drop("doc_text")
    val result = Extract.pipeline(turns)

    val n1 = Scale.resumableWrite(result, oneShot, manOne, nBuckets = 8)

    // simulate a run killed after wave 0 of 4 (buckets {0,4} committed +
    // manifested, wave 1 died mid-write): only wave-0 buckets exist
    val withBucket = result.withColumn("bucket", Scale.bucketCol(8))
    withBucket.filter(col("bucket").isin(0, 4))
      .write.mode("overwrite").partitionBy("bucket").parquet(waved)
    Scale.recordBuckets(spark, manWaved,
      Seq(0, 4).map(b => b -> spark.read.parquet(s"$waved/bucket=$b").count()))
    val mtimes0 = Seq(0, 4).map(b => b -> mtimes(new java.io.File(s"$waved/bucket=$b"))).toMap

    // resume with waves=4: waves 0 fully pruned, 1–3 written + manifested
    val n2 = Scale.resumableWrite(result, waved, manWaved, nBuckets = 8, waves = 4)
    assert(n1 === n2)
    val a = spark.read.parquet(oneShot).select("conv_id", "turn_idx", "text")
    val b = spark.read.parquet(waved).select("conv_id", "turn_idx", "text")
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
    assert(Scale.manifestRows(spark, manWaved).keySet === (0 until 8).toSet)
    // the crashed run's committed buckets were skipped, not rewritten
    Seq(0, 4).foreach { bkt =>
      val now = mtimes(new java.io.File(s"$waved/bucket=$bkt"))
      assert(now === mtimes0(bkt), s"bucket $bkt was rewritten on resume")
    }
  }

  test("a wave of only-empty buckets neither crashes nor blocks resume") {
    val tmp = Files.createTempDirectory("graft_empty_wave").toString
    val turns = Transcripts.synthetic(spark, 300, 10).drop("doc_text")
    // keep only rows landing in ODD buckets of 8, so wave 0 of waves=2
    // (the even buckets) is entirely empty: the wave's write commits no
    // partition dir, and its empty buckets must still land in the manifest
    // (rows=0) or every resume rescans them
    val result = Extract.pipeline(turns)
    val odd = result.withColumn("bucket", Scale.bucketCol(8))
      .filter(pmod(col("bucket"), lit(2)) === 1).drop("bucket")
    val n = Scale.resumableWrite(odd, s"$tmp/out", s"$tmp/man",
      nBuckets = 8, waves = 2)
    assert(n === odd.count())
    assert(Scale.manifestRows(spark, s"$tmp/man").keySet === (0 until 8).toSet)
    // with no rows at all no wave commits a bucket dir; the dir must still
    // read back, with the columns a non-empty write has
    val none = result.filter(lit(false))
    assert(Scale.resumableWrite(none, s"$tmp/none", s"$tmp/man_none",
      nBuckets = 8, waves = 2) === 0)
    assert(Scale.manifestRows(spark, s"$tmp/man_none").keySet === (0 until 8).toSet)
    val back = spark.read.parquet(s"$tmp/none")
    assert(back.schema.map(f => f.name -> f.dataType.simpleString) ===
      Scale.bucketedSchema(none.schema).map(f => f.name -> f.dataType.simpleString))
    assert(back.count() === 0)
  }

  test("salted write spreads a skewed conversation across writer files") {
    // a 1000-turn conversation lands entirely in ONE bucket; with salts>1
    // the write's (bucket, turn_idx % salts) keying hands it to several
    // writer tasks → several files in that bucket dir, no straggler. The
    // table content must be identical to the unsalted write.
    val tmp = Files.createTempDirectory("graft_salted_write").toString
    val skewed = Transcripts.synthetic(spark, 2000, 10, skewFactor = 100)
      .drop("doc_text")
    val result = Extract.pipeline(skewed)
    // AQE coalescing merges this fixture-sized shuffle back into one task
    // (at corpus scale the salt groups exceed the advisory partition size
    // and stay separate) — pin the spread mechanism without it
    val n1 = Scale.resumableWrite(result, s"$tmp/plain", s"$tmp/man1", nBuckets = 8)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val n2 =
      try Scale.resumableWrite(result, s"$tmp/salted", s"$tmp/man2",
        nBuckets = 8, salts = 8)
      finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    assert(n1 === n2)
    val a = spark.read.parquet(s"$tmp/plain").select("conv_id", "turn_idx", "text")
    val b = spark.read.parquet(s"$tmp/salted").select("conv_id", "turn_idx", "text")
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
    // the skewed conversation's bucket dir holds multiple data files
    val hotBucket = result.withColumn("bucket", Scale.bucketCol(8))
      .filter(col("conv_id") === "c00000000000000")
      .select("bucket").distinct().collect().map(_.getInt(0)).toSeq
    assert(hotBucket.size === 1)
    val files = new java.io.File(s"$tmp/salted/bucket=${hotBucket.head}")
      .listFiles().count(f => f.getName.endsWith(".parquet"))
    assert(files > 1, s"skewed bucket written by a single task ($files file)")
  }

  /** Data files under each `bucket=` dir of `dir`. */
  private def filesPerBucket(dir: String): Map[String, Seq[java.io.File]] =
    new java.io.File(dir).listFiles().toSeq
      .filter(d => d.isDirectory && d.getName.startsWith("bucket="))
      .map(d => d.getName -> d.listFiles().toSeq.filter(_.getName.endsWith(".parquet")))
      .toMap

  test("measured fan-out: an unskewed corpus writes one file per non-empty bucket") {
    val tmp = Files.createTempDirectory("graft_fanout").toString
    val result = Extract.pipeline(Transcripts.synthetic(spark, 2000, 10).drop("doc_text"))
    val n1 = Scale.resumableWrite(result, s"$tmp/plain", s"$tmp/man1")
    // coalescing off, as in the salted-write test: each bucket must still
    // reach exactly one writer task, because with 64 buckets over 4 writer
    // tasks no bucket is hot
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val n2 =
      try Scale.resumableWrite(result, s"$tmp/salted", s"$tmp/man2", salts = 8)
      finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    assert(n1 === n2)
    val nonEmpty = result.select(Scale.bucketCol()).distinct().count()
    val files = filesPerBucket(s"$tmp/salted")
    assert(files.size === nonEmpty)
    assert(files.values.forall(_.size == 1),
      s"files per bucket: ${files.view.mapValues(_.size).toMap}")
    val a = spark.read.parquet(s"$tmp/plain").select("conv_id", "turn_idx", "text", "bucket")
    val b = spark.read.parquet(s"$tmp/salted").select("conv_id", "turn_idx", "text", "bucket")
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
  }

  test("every written file is sorted by (conv_id, turn_idx)") {
    val tmp = Files.createTempDirectory("graft_sorted").toString
    // a deterministic scramble, so no writer receives its rows in key order
    val scrambled = Extract.pipeline(Transcripts.synthetic(spark, 2000, 10)
        .drop("doc_text"))
      .orderBy(xxhash64(col("conv_id"), col("turn_idx")))
    Seq(1, 8).foreach { salts =>
      val out = s"$tmp/salts$salts"
      Scale.resumableWrite(scrambled, out, s"$tmp/man$salts", nBuckets = 8, salts = salts)
      val files = filesPerBucket(out).values.flatten.toSeq
      assert(files.nonEmpty)
      files.foreach { f =>
        val keys = spark.read.parquet(f.getPath).select("conv_id", "turn_idx")
          .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
        assert(keys === keys.sorted, s"salts=$salts: ${f.getName} is not sorted")
      }
    }
  }

  test("a hot bucket spreads over the writer tasks, a cold one keeps one writer") {
    // conversation 0 holds a quarter of the corpus, so its bucket holds more
    // than an even share of the 4 writer tasks' rows; every other bucket
    // holds under 2 %
    val tmp = Files.createTempDirectory("graft_hot").toString
    val result = Extract.pipeline(
      Transcripts.synthetic(spark, 4000, 10, skewFactor = 100).drop("doc_text"))
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val n =
      try Scale.resumableWrite(result, s"$tmp/out", s"$tmp/man", salts = 16)
      finally spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    assert(n === 4000)
    val hot = result.filter(col("conv_id") === "c00000000000000")
      .select(Scale.bucketCol()).distinct().collect().map(r => s"bucket=${r.getInt(0)}")
    val files = filesPerBucket(s"$tmp/out")
    assert(files(hot.head).size === 4, s"hot bucket files: ${files(hot.head).size}")
    assert((files - hot.head).values.forall(_.size == 1))
    // rows per writer task (the part number of its files): the hot bucket's
    // 16 salt keys land on every task, so none holds much over a quarter
    val perTask = files.values.flatten.toSeq
      .groupBy(_.getName.split("-")(1))
      .map { case (_, fs) => fs.map(f => spark.read.parquet(f.getPath).count()).sum }
    assert(perTask.size === 4)
    assert(perTask.max < 0.35 * n, s"rows per writer task: $perTask")
  }

  /** What `body` returns, and the (function name, executed plan, observed
    * metric names) of every query that succeeded while it ran. */
  private def queriesDuring[T](body: => T): (T, Seq[(String, String, Set[String])]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Set[String])]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add((f, qe.executedPlan.toString, qe.observedMetrics.keySet))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val result = body
      spark.range(7).collect() // the listener bus delivers in order
      eventually(timeout(30.seconds)) {
        assert(seen.asScala.exists(_._2.contains("Range (0, 7")))
      }
      (result, seen.asScala.toSeq.filterNot(_._2.contains("Range (0, 7")))
    } finally spark.listenerManager.unregister(listener)
  }

  test("the manifest records the written files' rows, and nothing reads them back") {
    val tmp = Files.createTempDirectory("graft_footer_counts").toString
    val result = Extract.pipeline(Transcripts.synthetic(spark, 2000, 10).drop("doc_text"))
    val obs = org.apache.spark.sql.Observation("footer_counts")
    // (input, salts, its Observation): a nondeterministic filter keeps
    // different rows on each evaluation, so a pre-pass count of it is not
    // the written rows
    val inputs = Seq(
      ("plain", result, 1, None),
      ("observed", result.observe(obs, count(lit(1)).as("rows")), 4, Some(obs)),
      ("nondeterministic", result.filter(rand(7) < 0.5), 4, None))
    inputs.foreach { case (name, df, salts, observation) =>
      val out = s"$tmp/$name"; val man = s"$tmp/man_$name"
      val (n, queries) = queriesDuring {
        Scale.resumableWrite(df, out, man, nBuckets = 8, salts = salts)
      }
      val table = spark.read.parquet(out)
      val perBucket = table.groupBy("bucket").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val manifest = Scale.manifestRows(spark, man).toSeq.sorted
      assert(manifest === (0 until 8).map(b => b -> perBucket.getOrElse(b, 0L)), name)
      val readBack = queries.filter(q => q._1 == "collect" && q._2.contains(out))
      assert(readBack.isEmpty, s"$name: the written rows were read back: $readBack")
      val viaSpark = queries.filter(_._2.contains(man))
      assert(viaSpark.isEmpty, s"$name: a query touched the manifest: ${viaSpark.map(_._1)}")
      assert(n === table.count(), name)
      observation.foreach { o =>
        val fired = queries.filter(_._3.contains(o.name))
        assert(fired.size === 1, s"$name: the Observation fired in ${fired.map(_._1)}")
        assert(o.get.get("rows") === Some(n), name)
      }
    }
  }

  test("a wave whose manifest file never landed is rewritten on retry, and only it") {
    val tmp = Files.createTempDirectory("graft_wave_kill").toString
    val out = s"$tmp/out"; val man = new java.io.File(s"$tmp/man")
    val result = Extract.pipeline(Transcripts.synthetic(spark, 2000, 10).drop("doc_text"))
    val n1 = Scale.resumableWrite(result, out, man.getPath, nBuckets = 8, waves = 4)
    val rows1 = Scale.manifestRows(spark, man.getPath)
    // what a kill between wave 2's commit and its manifest rename leaves:
    // the wave's bucket dirs, no wave file, and a hidden temp file
    val waveFiles = man.listFiles().toSeq.filter(_.getName.startsWith("wave-"))
    assert(waveFiles.size === 4)
    def buckets(f: java.io.File) =
      Files.readAllLines(f.toPath).asScala.map(_.split('\t')(0).toInt).toSet
    val (wave2, kept) = waveFiles.partition(buckets(_) == Set(2, 6))
    assert(wave2.size === 1)
    assert(wave2.head.delete())
    Files.write(new java.io.File(man, ".wave-x.tmp").toPath, "garbage\n".getBytes("UTF-8"))
    val keptBefore = kept.map(f => f.getName -> f.lastModified).toMap
    val dataBefore = (0 until 8).map(b => b -> mtimes(new java.io.File(s"$out/bucket=$b"))).toMap

    val n2 = Scale.resumableWrite(result, out, man.getPath, nBuckets = 8, waves = 4)
    assert(n2 === n1)
    assert(Scale.manifestRows(spark, man.getPath) === rows1)
    assert(kept.map(f => f.getName -> f.lastModified).toMap === keptBefore)
    (0 until 8).foreach { b =>
      val now = mtimes(new java.io.File(s"$out/bucket=$b"))
      if (b % 4 == 2) assert(now.keySet.intersect(dataBefore(b).keySet).isEmpty,
        s"bucket $b was not rewritten")
      else assert(now === dataBefore(b), s"bucket $b was rewritten")
    }
    assert(spark.read.parquet(out).count() === n1)
  }

  test("a manifest file with a malformed line stops the write and names the file") {
    val tmp = Files.createTempDirectory("graft_bad_manifest").toString
    val man = s"$tmp/man"
    Scale.recordBuckets(spark, man, Seq(0 -> 10L))
    Files.write(java.nio.file.Paths.get(man, "wave-bad"), "1\t10\n1 10\n".getBytes("UTF-8"))
    val result = Extract.pipeline(Transcripts.synthetic(spark, 200, 10).drop("doc_text"))
    val e = intercept[IllegalStateException] {
      Scale.resumableWrite(result, s"$tmp/out", man, nBuckets = 8)
    }
    assert(e.getMessage.contains(s"$man/wave-bad"), e.getMessage)
    assert(!new java.io.File(s"$tmp/out").exists())
  }

  /** Command lines of the OS processes started while `body` runs, from an
    * in-process JFR recording of `jdk.ProcessStart`. */
  private def processesStarted(body: => Unit): Seq[String] = {
    val rec = new Recording()
    val jfr = Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      rec.dump(jfr)
      RecordingFile.readAllEvents(jfr).asScala.map(_.getString("command")).toSeq
    } finally { rec.close(); Files.deleteIfExists(jfr) }
  }

  test("a staged boundary forks no chmod: 64-bucket write and publish") {
    val table = Files.createTempDirectory("graft_forks").toString
    val result = Extract.pipeline(Transcripts.synthetic(spark, 2000, 10).drop("doc_text"))
    val snap = TableIO.nextSnapshotName(spark, table)
    val started = processesStarted {
      Scale.resumableWrite(result, TableIO.dataDir(table, snap), s"$table/$snap/manifest")
      TableIO.publish(spark, table, snap)
    }
    assert(TableIO.readTable(spark, table).count() === 2000)
    val chmods = started.filter(_.split("\\s+").head.endsWith("chmod"))
    assert(chmods.isEmpty, s"${chmods.size} chmod processes, e.g. ${chmods.take(3)}")
  }

  test("reading a 64-bucket staged table back lists it in the driver, not in a job") {
    val tmp = Files.createTempDirectory("graft_listing").toString
    val result = Extract.pipeline(Transcripts.synthetic(spark, 2000, 10).drop("doc_text"))
    Scale.resumableWrite(result, s"$tmp/out", s"$tmp/man")
    // more leaf dirs than Spark's default parallel-listing threshold (32)
    assert(filesPerBucket(s"$tmp/out").size > 32)
    // (job group, description, tasks) of every job started
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Int)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((e.properties.getProperty("spark.jobGroup.id"),
          e.properties.getProperty("spark.job.description"), e.stageInfos.map(_.numTasks).sum))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("listing-guard", "read back")
      try spark.read.parquet(s"$tmp/out") finally sc.clearJobGroup()
      // the listener bus delivers in order: once this job is seen, every
      // job the read started has been seen too
      sc.setJobGroup("listing-guard-end", "marker")
      try spark.range(1).collect() finally sc.clearJobGroup()
      eventually(timeout(30.seconds)) {
        assert(jobs.asScala.exists(_._1 == "listing-guard-end"))
      }
    } finally sc.removeSparkListener(listener)
    // what may remain is parquet's schema inference: one task reading one
    // file footer
    val read = jobs.asScala.filter(_._1 == "listing-guard").toSeq
    assert(read.map(_._3).sum <= 1, s"jobs started by the read: $read")
    assert(!read.exists(j => Option(j._2).exists(_.startsWith("Listing leaf files"))),
      s"jobs started by the read: $read")
  }
}
