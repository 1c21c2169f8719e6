package graft.scale

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8

import scala.io.Source

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

/** The scale module (SURVEY.md §7 item 8): conv_id hash bucketing, a keyed
  * write whose fan-out AQE sizes from its shuffle, AQE config, and the
  * per-bucket lineage manifest that makes a failed 10^12-turn run
  * resumable without recomputing completed buckets (north_rule).
  *
  * The reference has no equivalent — a failed run restarts from scratch and
  * "resume" is a human moving files (reference: src/doc_classification.py:75-92).
  */
object Scale {

  /** Number of hash buckets the output table is partitioned by. On a real
    * cluster this is the Iceberg `bucket(N, conv_id)` transform; in the
    * parquet fallback it is an explicit partition column. */
  val DefaultBuckets = 64

  def bucketCol(nBuckets: Int = DefaultBuckets, keyCol: String = "conv_id") =
    pmod(xxhash64(col(keyCol)), lit(nBuckets.toLong)).cast("int").as("bucket")

  /** The schema a [[resumableWrite]] of a frame with `schema` reads back
    * with: its columns plus the `bucket` partition column. */
  def bucketedSchema(schema: StructType): StructType =
    schema.add("bucket", IntegerType, nullable = false)

  /** Free the rows behind a checkpointed frame. A `localCheckpoint`ed
    * frame has no cache entry, so `unpersist()` on it is a no-op: its rows
    * are the persisted RDD under its `LogicalRDD` leaf. */
  def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist()
      case _ =>
    }

  /** Session defaults for a local master: [[defaults]], `cpus` shuffle
    * partitions, and file listing in the driver. A directory with more
    * leaf dirs than `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * (32) is otherwise listed by a Spark job with one task per dir — on a
    * local master, in the same JVM, so the job only adds its scheduling
    * cost: reading a 64-bucket staged table back started a 64-task job. */
  def configure(b: SparkSession.Builder, cpus: Int): SparkSession.Builder =
    defaults(b).config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", Int.MaxValue.toString)

  /** Defaults for every session, local or cluster: AQE on (coalesce +
    * skew-join), UTC, no UI, and [[NioLocalFileSystem]] for `file:`. */
  private def defaults(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)

  /** Session for a spark-submit job. `SPARK_MASTER` picks the master
    * (default local[cpus]) and `SPARK_GRAFT_CPUS` the shuffle parallelism.
    * Unset, a local run takes the host's processor count and [[configure]]
    * (driver-side listing). A cluster run gets [[defaults]] only: it keeps
    * Spark's distributed listing, whose tasks run on the executors, and,
    * without `SPARK_GRAFT_CPUS`, the cluster's own
    * `spark.sql.shuffle.partitions`, since the driver's cores say nothing
    * about the executors'. */
  def jobSession(appName: String): SparkSession = {
    val b = SparkSession.builder().appName(appName)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    sys.env.get("SPARK_MASTER") match {
      case Some(master) =>
        val d = defaults(b)
        cpus.fold(d)(n => d.config("spark.sql.shuffle.partitions", n.toString))
          .master(master).getOrCreate()
      case None =>
        val n = cpus.getOrElse(Runtime.getRuntime.availableProcessors)
        configure(b, n).master(s"local[$n]").getOrCreate()
    }
  }

  // ---------------------------------------------------------------- manifest

  /** Per-bucket lineage manifest: a directory of small text files, one per
    * committed wave, each holding one `bucket<TAB>rows` line per bucket of
    * the wave. Idempotent resume = read the manifest, skip its buckets,
    * overwrite-by-partition the rest. Plain application logic, not planner
    * surgery (SURVEY.md §4 conclusion): the files are written and read in
    * the driver through the Hadoop FileSystem API, with no Spark job, so the
    * same code runs on S3 and HDFS.
    *
    * A wave's file is created as the hidden `.wave-<uuid>.tmp` and renamed
    * to `wave-<uuid>`. The name is fresh, so the rename never replaces a
    * file, and a crash before it leaves only a hidden file that
    * [[manifestRows]] skips: the wave's buckets are rewritten on retry. */
  def recordBuckets(spark: SparkSession, manifestDir: String,
                    buckets: Seq[(Int, Long)]): Unit = {
    val dir = new Path(manifestDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val id = java.util.UUID.randomUUID()
    val tmp = new Path(dir, s".wave-$id.tmp")
    val out = fs.create(tmp, false)
    try out.write(buckets.map { case (b, n) => s"$b\t$n\n" }.mkString.getBytes(UTF_8))
    finally out.close()
    if (!fs.rename(tmp, new Path(dir, s"wave-$id")))
      throw new IOException(s"could not rename $tmp to wave-$id")
  }

  /** Manifested row count per completed bucket, from one listing of
    * `manifestDir` that skips hidden (`_`, `.`) names: an unrenamed `.tmp`
    * and the checksum files. A missing dir reads as empty. A bucket listed
    * twice (a run that died between a wave's commit and its rename, then
    * re-ran the wave) keeps its largest count. The manifest is input from
    * disk, so a line that is not `bucket<TAB>rows` throws, naming its file.
    * Single-writer-per-snapshot remains the operating assumption (the
    * Iceberg deployment gets real commit-level OCC). */
  def manifestRows(spark: SparkSession, manifestDir: String): Map[Int, Long] = {
    val dir = new Path(manifestDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val files =
      try fs.listStatus(dir) catch { case _: FileNotFoundException => Array.empty[FileStatus] }
    files.iterator.map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .flatMap { p =>
        val in = fs.open(p)
        val lines = try Source.fromInputStream(in, "UTF-8").getLines().toList finally in.close()
        lines.map(l => (l.split('\t') match {
          case Array(b, n) => b.toIntOption.zip(n.toLongOption)
          case _ => None
        }).getOrElse(throw new IllegalStateException(s"malformed manifest line in $p: '$l'")))
      }
      .foldLeft(Map.empty[Int, Long]) { case (m, (b, n)) => m.updated(b, m.getOrElse(b, n) max n) }
  }

  /** Rows under each of `buckets`' `bucket=` dirs in `outDir`: the sum of
    * the record counts in its data files' parquet footers. A driver-side
    * listing of each of those dirs, not of `outDir`, plus one footer read
    * per file; no Spark job. All files share one read-options object: the
    * one-argument `ParquetFileReader.open` builds a fresh Hadoop
    * `Configuration` per file, which rescans the classpath. A bucket
    * without a dir holds no rows. */
  private def footerCounts(spark: SparkSession, outDir: String,
                           buckets: Seq[Int]): Seq[(Int, Long)] = {
    val conf = spark.sessionState.newHadoopConf()
    val opts = HadoopReadOptions.builder(conf).build()
    buckets.map(b => b -> TableIO.dataFiles(spark, s"$outDir/bucket=$b").map { st =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf), opts)
      try r.getRecordCount finally r.close()
    }.sum)
  }

  /** What one [[resumableWrite]] call did. `rows` is the total over the
    * manifest: earlier calls' buckets plus this one's. `observed` covers
    * only the rows this call wrote: `"rows"` their count, and each of the
    * call's `observe` columns, by name, its sum over them. A call that
    * finds every bucket done writes no row and observes zeros. */
  final case class Written(rows: Long, observed: Map[String, Long])

  /** Resumable keyed write: bucket the result by hash(`keyCol`, default
    * conv_id), drop buckets the manifest marks complete, and write every
    * remaining bucket in ONE distributed job with dynamic partition
    * overwrite (idempotent under retry — a re-run of a failed job rewrites
    * exactly the unfinished buckets and leaves completed ones untouched).
    * The bucket filter prunes at the source when the input is already
    * bucket-partitioned, so a resume after k completed buckets rescans only
    * (n−k)/n of the data.
    *
    * Fan-out comes from the write's own shuffle, with no pass of its own.
    * Each wave is keyed by a REBALANCE hint on `bucket` at `nBuckets`
    * partitions. With AQE on ([[defaults]]), `OptimizeSkewInRebalancePartitions`
    * splits a bucket whose shuffle output is over
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` across several
    * writer tasks, and `CoalesceShufflePartitions` merges small buckets
    * into one task, so an unskewed corpus writes one file per non-empty
    * bucket. Both read the shuffle's map-output statistics. The split cuts
    * a bucket only between map-output blocks: a hot bucket spreads over at
    * most the scan tasks that produced its rows, so a writer task holds
    * roughly the larger of the advisory size and one scan task's output
    * for that bucket. The kernel runs map-side in the scan stage, and a
    * 10^9-turn conversation spans many input splits, so it is spread; a
    * bucket fed by a single map task stays one file. With AQE off, the
    * hint is a plain hash repartition: one writer per bucket. `salts`
    * reaches no plan; it and its check stay for perfbench's source
    * compatibility.
    *
    * The manifest holds the parquet footer counts of the committed files:
    * after each wave commits, every bucket of the wave is recorded with the
    * record counts summed over its dir's data files, a zero-row bucket
    * included (rows=0), or every resume would rescan it. Neither counting
    * nor recording runs a Spark job: each wave adds one manifest file, by
    * create-then-rename ([[recordBuckets]]). On return `outDir` always
    * reads back with [[bucketedSchema]]: a write with no rows commits no
    * `bucket=` dir, so one empty parquet file with that schema stands in.
    *
    * The rows a write saw are the rows its files hold, or nothing is
    * manifested:
    *  - each wave carries a fresh `Observation` between its bucket filter
    *    and the REBALANCE hint, in the write's map stage, counting its rows
    *    and summing the `observe` columns. After the wave commits, that
    *    count must equal the wave's footer counts, or the call throws
    *    before [[recordBuckets]]: the wave is never manifested and a retry
    *    rewrites it. A wave whose write runs no task observes no row;
    *  - a call that finds a non-empty manifest first re-reads the footers
    *    of every bucket it marks done, with no Spark job, and throws,
    *    naming the buckets, if any sum differs from its manifest count.
    *    This runs before any write.
    * Accumulator updates in a map stage count at least once: a map task
    * that re-runs after a lost shuffle output can be counted twice. Such a
    * wave is refused and rewritten on retry, so the failure is a false
    * refusal, never a wrong publish.
    *
    * Each file is sorted by (`keyCol`, `orderCol`): the write sorts by
    * (bucket, keyCol, orderCol), which also satisfies the bucket ordering
    * the planned partitioned write requires — a sort on (keyCol, orderCol)
    * alone is replaced by the planner's bucket sort. A bucket dir as a whole
    * is not sorted when it holds several files; consumers sort on
    * (conv_id, turn_idx), never assume file order (SURVEY §1).
    *
    * `waves` chunks the write into that many sequential jobs (wave w writes
    * buckets with `bucket % waves == w`), recording each wave's manifest
    * file AFTER the wave commits. With waves=1 (default) the manifest only
    * ever gains entries once the WHOLE write commits — so a run killed
    * mid-write resumes from zero.
    * waves>1 is what makes a 10^12-turn run killable: die in wave k and the
    * retry prunes waves 0..k−1 at the source. The cost is `waves` input
    * scans — on the real deployment the input is an Iceberg table bucketed
    * by conv_id, so each wave's bucket filter prunes at the source and the
    * rescan is ~free; on a flat parquet input each wave re-reads the corpus
    * (kernel work still runs once per row — the bucket filter sits below
    * the projection), so keep waves modest (4–8). */
  def resumableWrite(df: DataFrame, outDir: String, manifestDir: String,
                     nBuckets: Int = DefaultBuckets, waves: Int = 1,
                     salts: Int = 1, keyCol: String = "conv_id",
                     orderCol: String = "turn_idx",
                     observe: Seq[Column] = Nil): Written = {
    require(waves >= 1 && waves <= nBuckets,
      s"waves must be in [1, nBuckets]: $waves")
    require(salts >= 1, s"salts must be >= 1: $salts")
    val spark = df.sparkSession
    val done = manifestRows(spark, manifestDir)
    val disagree = footerCounts(spark, outDir, done.keys.toSeq.sorted)
      .collect { case (b, n) if n != done(b) => b }
    if (disagree.nonEmpty)
      throw new IllegalStateException(s"$manifestDir records other row counts than " +
        s"the data files of buckets ${disagree.mkString(", ")}; not writing")
    val bucket = bucketCol(nBuckets, keyCol)
    val names = "rows" +: df.select(observe: _*).columns.toSeq
    require(names.distinct.size == names.size,
      s"observe names must be distinct and none may be rows: $names")
    val metrics = (count(lit(1)) +: observe.map(c => coalesce(sum(c).cast("long"), lit(0L))))
      .zip(names).map { case (m, n) => m.as(n) }
    val waveResults = (0 until waves).flatMap { w =>
      val waveBuckets = (w until nBuckets by waves).filterNot(done.contains)
      if (waveBuckets.isEmpty) None
      else {
        // partitionOverwriteMode is scoped to THIS write via the per-write
        // option, not session conf (a conf mutation would leak into every
        // later write of a long-lived session).
        val wave =
          if (waveBuckets.size == nBuckets) df // nothing to prune
          else df.filter(bucket.isin(waveBuckets.map(Int.box): _*))
        val obs = Observation()
        wave.observe(obs, metrics.head, metrics.tail: _*)
          .withColumn("bucket", bucket)
          .hint("rebalance", nBuckets, col("bucket"))
          .sortWithinPartitions("bucket", keyCol, orderCol)
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("bucket").parquet(outDir)
        val m = obs.get
        val seen = names.map(n => n -> m.get(n).fold(0L)(_.asInstanceOf[Long])).toMap
        val rows = footerCounts(spark, outDir, waveBuckets)
        val held = rows.map(_._2).sum
        if (held != seen("rows"))
          throw new IllegalStateException(s"$outDir: the write of buckets " +
            s"${waveBuckets.mkString(", ")} saw ${seen("rows")} rows but their files " +
            s"hold $held; not recording them")
        recordBuckets(spark, manifestDir, rows)
        Some((rows, seen))
      }
    }
    if (!TableIO.dataFiles(spark, outDir).hasNext)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], bucketedSchema(df.schema))
        .repartition(1).write.mode("overwrite").parquet(outDir)
    Written((done ++ waveResults.flatMap(_._1)).values.sum,
      names.map(n => n -> waveResults.map(_._2(n)).sum).toMap)
  }
}
