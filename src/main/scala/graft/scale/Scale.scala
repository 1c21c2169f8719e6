package graft.scale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{CollectMetrics, LogicalPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

/** The scale module (SURVEY.md §7 item 8): conv_id hash bucketing, salted
  * repartition for skewed conversations, AQE config, and the checkpointed
  * per-partition lineage manifest that makes a failed 10^12-turn run
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

  /** Salted repartition for skewed long conversations: per-turn stages are
    * embarrassingly parallel, so rows of one huge conversation may be spread
    * across `salts` partitions — `repartition(hash(conv_id, salt))` with
    * salt = turn_idx mod salts. Downstream keyed writes re-group by bucket;
    * stable ordering is restored by sorting on (conv_id, turn_idx) within
    * the write, never assumed from partition order (SURVEY.md §1). */
  def saltedRepartition(df: DataFrame, partitions: Int, salts: Int = 16): DataFrame =
    df.repartition(partitions, col("conv_id"), pmod(col("turn_idx"), lit(salts)))

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

  /** Per-partition lineage manifest: a tiny parquet table
    * (bucket int, rows long) recording finished output buckets. Idempotent
    * resume = read manifest, skip completed buckets, overwrite-by-partition
    * for the rest. Plain application logic, not planner surgery
    * (SURVEY.md §4 conclusion). All path probing goes through the Hadoop
    * FileSystem API — java.io.File broke on S3/HDFS, the stated design
    * point (round-1 verdict). */
  private def fsFor(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** True iff the dir holds at least one actual parquet data file. A
    * listing check alone is NOT enough: a job that crashed mid manifest
    * append leaves only a `_temporary` subdir, and schema inference over
    * that throws — permanently bricking resume at the exact crash-recovery
    * step the manifest exists for (round-3 review finding). Hidden entries
    * (`_…`, `.…`) are the same set Spark's file index skips. */
  private def hasDataFiles(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = fsFor(spark, path)
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** True iff `path` holds at least one committed `bucket=` partition dir —
    * the readability probe for bucket-partitioned output. (`hasDataFiles`
    * checks top-level FILES and is blind to partition dirs; reading a dir
    * with no committed partitions throws schema-inference errors.) */
  def hasBucketData(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = fsFor(spark, path)
    fs.exists(p) && fs.listStatus(p).exists { st =>
      st.isDirectory && st.getPath.getName.startsWith("bucket=")
    }
  }

  /** Manifested row count per completed bucket. The manifest is
    * append-only, so a crashed run that died between its write commit and
    * its manifest append and was then re-run records a bucket twice (with
    * identical counts; the data dirs themselves are last-writer-wins under
    * dynamic overwrite): one entry per bucket keeps the bookkeeping honest.
    * Single-writer-per-snapshot remains the operating assumption (the
    * Iceberg deployment gets real commit-level OCC). */
  private def manifestRows(spark: SparkSession, manifestDir: String): Map[Int, Long] =
    if (!hasDataFiles(spark, manifestDir)) Map.empty
    else spark.read.parquet(manifestDir)
      .groupBy(col("bucket")).agg(max(col("rows")))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  def completedBuckets(spark: SparkSession, manifestDir: String): Set[Int] =
    manifestRows(spark, manifestDir).keySet

  def recordBucket(spark: SparkSession, manifestDir: String, bucket: Int,
                   rows: Long): Unit =
    recordBuckets(spark, manifestDir, Seq(bucket -> rows))

  /** Record several completed buckets in ONE append job. */
  def recordBuckets(spark: SparkSession, manifestDir: String,
                    buckets: Seq[(Int, Long)]): Unit = {
    import spark.implicits._
    if (buckets.nonEmpty)
      buckets.toDF("bucket", "rows")
        .coalesce(1).write.mode("append").parquet(manifestDir)
  }

  /** Rows per bucket of `df`, from one column-pruned pass over `keyCol`. */
  private def bucketCounts(df: DataFrame, nBuckets: Int, keyCol: String,
                           buckets: Seq[Int]): Map[Int, Long] = {
    val keyed = df.select(bucketCol(nBuckets, keyCol))
    val pending =
      if (buckets.size == nBuckets) keyed
      else keyed.filter(col("bucket").isin(buckets.map(Int.box): _*))
    pending.groupBy("bucket").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  /** Buckets too big for one writer. The task that writes a bucket alone
    * also receives its hashed part of the other buckets, so a bucket of
    * more than a quarter of an even share (all rows over the writer stage's
    * `parallelism`) would push that task well past the share. */
  private def hotBuckets(counts: Map[Int, Long], parallelism: Int): Seq[Int] = {
    val share = counts.values.sum.toDouble / parallelism
    counts.collect { case (b, n) if n > share / 4 => b }.toSeq.sorted
  }

  /** `df`'s analyzed plan without its top `observe` (CollectMetrics)
    * nodes, which pass every row through unchanged. */
  private def unobserved(df: DataFrame): LogicalPlan = {
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case c: CollectMetrics => strip(c.child)
      case _ => p
    }
    strip(df.queryExecution.analyzed)
  }

  /** Resumable keyed write: bucket the result by hash(`keyCol`, default
    * conv_id), drop buckets the manifest marks complete, and write every
    * remaining bucket in ONE distributed job with dynamic partition
    * overwrite (idempotent under retry — a re-run of a failed job rewrites
    * exactly the unfinished buckets and leaves completed ones untouched).
    * The bucket filter prunes at the source when the input is already
    * bucket-partitioned, so a resume after k completed buckets rescans only
    * (n−k)/n of the data.
    *
    * Fan-out is measured, not blind. With `salts` > 1, one column-pruned
    * `groupBy(bucket).count()` over `keyCol` runs before the write. A
    * bucket holding more than a quarter of an even share of the rows (all
    * rows over `spark.sql.shuffle.partitions`) is hot: its rows are keyed by
    * (bucket, `orderCol` mod `salts`), so they spread over the writer tasks
    * as a blind salting would, and a 10^9-turn conversation, which lands in
    * ONE bucket, has no single straggler writer. Every other bucket keeps
    * one writer, so an unskewed corpus with several buckets per writer task
    * writes one file per non-empty bucket instead of one per bucket per
    * writer task; with under four buckets per writer task every bucket is
    * hot. With `salts` = 1 no pre-pass runs and every bucket has one writer.
    *
    * `keyFrame` is the frame the pre-pass counts when `df` itself would not
    * prune to `keyCol`: an observed frame, whose CollectMetrics node blocks
    * column pruning, so counting it would run the whole projection. Pass
    * `df` minus its `observe` calls; the counts stand in for the written
    * ones only when that holds (checked on the analyzed plans) and the plan
    * is deterministic. Otherwise they only size the fan-out.
    *
    * Bookkeeping is O(1) jobs, not O(nBuckets). Exact pre-pass counts go
    * straight to the manifest. Otherwise (salts = 1, a nondeterministic
    * plan, or a `keyFrame` that is not `df`'s rows) ONE
    * `groupBy(bucket).count()` pass over the written output records them.
    * Either way a zero-row bucket is still manifested (rows=0), or every
    * resume would rescan it. The return value is the total over the
    * manifest: earlier runs' buckets plus this one's. A caller that can
    * count the written rows itself (ExtractJob's Observation) should compare
    * that count with the total before it publishes.
    *
    * Each file is sorted by (`keyCol`, `orderCol`): the write sorts by
    * (bucket, keyCol, orderCol), which also satisfies the bucket ordering
    * the planned partitioned write requires — a sort on (keyCol, orderCol)
    * alone is replaced by the planner's bucket sort. A bucket dir as a whole
    * is not sorted when it holds several files; consumers sort on
    * (conv_id, turn_idx), never assume file order (SURVEY §1).
    *
    * `waves` chunks the write into that many sequential jobs (wave w writes
    * buckets with `bucket % waves == w`), appending the manifest AFTER each
    * wave. With waves=1 (default) the manifest only ever gains entries once
    * the WHOLE write commits — so a run killed mid-write resumes from zero.
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
                     keyFrame: Option[DataFrame] = None): Long = {
    require(waves >= 1 && waves <= nBuckets,
      s"waves must be in [1, nBuckets]: $waves")
    require(salts >= 1, s"salts must be >= 1: $salts")
    val spark = df.sparkSession
    val done = manifestRows(spark, manifestDir)
    val pending = (0 until nBuckets).filterNot(done.contains)
    val counts =
      if (salts <= 1 || pending.isEmpty) None
      else Some(bucketCounts(keyFrame.getOrElse(df), nBuckets, keyCol, pending))
    val hot = counts.fold(Seq.empty[Int])(
      hotBuckets(_, spark.conf.get("spark.sql.shuffle.partitions").toInt))
    // the pre-pass counts stand in for the written ones only if they count
    // df's rows and the plan yields the same rows on a second evaluation
    val exact = counts.filter(_ => df.queryExecution.analyzed.deterministic &&
      keyFrame.forall(k => unobserved(df).sameResult(k.queryExecution.analyzed)))
    val withBucket = df.withColumn("bucket", bucketCol(nBuckets, keyCol))
    val recorded = (0 until waves).flatMap { w =>
      val waveBuckets = (w until nBuckets by waves).filterNot(done.contains)
      if (waveBuckets.isEmpty) Nil
      else {
        // partitionOverwriteMode is scoped to THIS write via the per-write
        // option, not session conf (a conf mutation would leak into every
        // later write of a long-lived session).
        val wave =
          if (waveBuckets.size == nBuckets) withBucket // nothing to prune
          else withBucket.filter(col("bucket").isin(waveBuckets.map(Int.box): _*))
        val keyed =
          if (hot.isEmpty) wave.repartition(col("bucket"))
          else wave.repartition(col("bucket"),
            when(col("bucket").isin(hot.map(Int.box): _*), pmod(col(orderCol), lit(salts)))
              .otherwise(lit(0)))
        keyed
          .sortWithinPartitions("bucket", keyCol, orderCol)
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("bucket").parquet(outDir)
        // a wave whose buckets are ALL empty commits no partition dir:
        // there is nothing to count
        val waveCounts = exact.getOrElse {
          if (!hasBucketData(spark, outDir)) Map.empty[Int, Long]
          else spark.read.schema(bucketedSchema(df.schema)).parquet(outDir)
            .filter(col("bucket").isin(waveBuckets.map(Int.box): _*))
            .groupBy("bucket").count().collect()
            .map(r => r.getInt(0) -> r.getLong(1)).toMap
        }
        val rows = waveBuckets.map(b => b -> waveCounts.getOrElse(b, 0L))
        recordBuckets(spark, manifestDir, rows)
        rows
      }
    }
    (done ++ recorded).values.sum
  }
}
