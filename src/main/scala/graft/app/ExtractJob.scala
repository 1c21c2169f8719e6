package graft.app

import graft.extract.Extract
import graft.scale.{Scale, TableIO}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** spark-submit entrypoint (SURVEY.md §7 item 9): read a transcripts table →
  * extraction kernel → resumable keyed write → atomic snapshot publish,
  * with observed metrics.
  *
  * Usage:
  *   spark-submit --class graft.app.ExtractJob <jar> \
  *     <inputPath> <tableDir> [nBuckets] [salts] [waves]
  *
  * Scale posture (north_rule): input is read as-is (at 10^12 turns this is
  * an Iceberg table with bucket(conv_id) partitioning; here a parquet dir);
  * the per-turn kernel is embarrassingly parallel and runs MAP-SIDE in the
  * scan stage — the job's only shuffle is the write's keyed repartition.
  * `salts` is the writer spread of a hot bucket: a column-pruned count of
  * the rows per bucket runs first, and only a bucket holding more than a
  * quarter of one writer task's even share (a skewed long conversation) is
  * spread over `salts` writer keys, so an unskewed corpus writes one file
  * per bucket. The write is bucket-partitioned and manifest-guarded INSIDE
  * an unpublished snapshot directory, so a resumed run recomputes only
  * unfinished buckets AND readers of the published table never see a torn
  * write — the snapshot becomes visible only at the final atomic pointer
  * flip (TableIO).
  * Metrics come from `observe` (Spark-native, no driver-side collect).
  * `waves` > 1 commits the write in that many bucket chunks, each a
  * resume point (Scale.resumableWrite).
  */
object ExtractJob {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ExtractJob <inputPath> <tableDir> [nBuckets] [salts] [waves]")
    val Array(in, table) = args.take(2)
    val nBuckets = if (args.length > 2) args(2).toInt else Scale.DefaultBuckets
    val salts = if (args.length > 3) args(3).toInt else 16
    // waves > 1 = crash-resumable checkpoint granularity (Scale.resumableWrite)
    val waves = if (args.length > 4) args(4).toInt else 1

    val spark = Scale.jobSession("graft-extract")
    spark.sparkContext.setLogLevel("WARN")

    val t0 = System.nanoTime()
    val (snap, written) = run(spark, in, table, nBuckets, salts,
      spark.sparkContext.defaultParallelism, waves)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[extract-job] wrote $written%d turns in $secs%.1f s " +
      f"(${written / secs}%.0f turns/sec) to $table/$snap (published)")
    spark.stop()
  }

  /** Job body (main minus session lifecycle — testable): returns
    * (published snapshot, rows written). */
  def run(spark: SparkSession, in: String, table: String, nBuckets: Int,
          salts: Int, cpus: Int, waves: Int = 1): (String, Long) = {
    // waves is not a parameter of the staging snapshot: it changes
    // checkpoint granularity, never bucket identity, so a retry may resume
    // the same snapshot at a different wave count.
    val snap = TableIO.openStaging(spark, table, s"nBuckets=$nBuckets\nsalts=$salts")
    // NO upfront repartition: the kernel is per-turn embarrassingly
    // parallel and runs map-side inside the scan stage (size-balanced
    // splits), so the job's ONLY shuffle is the write's keyed repartition —
    // which is where conversation skew actually bites and where
    // resumableWrite's measured fan-out handles it.
    // (`Scale.saltedRepartition` remains the tool for per-CONVERSATION
    // compute stages, where co-location with spread is the point.)
    val turns = spark.read.parquet(in)
    // Observation (not a bare .observe name): the metrics are retrieved
    // after the write action and printed — the bare-name spelling computed
    // the aggregates on every row and silently discarded them (round-3
    // review finding). Attached ONLY on a FRESH single-wave run:
    //  - an Observation is single-shot, and its CollectMetrics node is a
    //    pushdown barrier — under waves>1 it would pin the kernel ABOVE the
    //    wave's bucket filter (kernel × waves) and capture wave-0's subset
    //    as the job metric;
    //  - on a RESUMED snapshot the observed plan either never executes
    //    (all buckets already manifested → resumableWrite runs no write
    //    job, and obs.get would block forever) or sees only the re-written
    //    subset (round-4 review finding).
    // Both fall back to one aggregation over the written table.
    val resumed = Scale.completedBuckets(spark, s"$table/$snap/manifest").nonEmpty
    val pipeline = Extract.pipeline(turns)
    val obs =
      if (waves == 1 && !resumed)
        Some(org.apache.spark.sql.Observation("extract_metrics"))
      else None
    val extracted = obs.fold(pipeline)(o => pipeline.observe(o,
      count(lit(1)).as("turns_out"),
      sum(when(col("text") === "", 1).otherwise(0)).as("empty_turns"),
      sum(length(col("text"))).as("chars_out")))
    // the fan-out pre-pass counts the UNOBSERVED pipeline: it prunes to
    // conv_id, while the observed frame's CollectMetrics node would make
    // the count run the kernel (and feed the single-shot Observation)
    val written = Scale.resumableWrite(extracted,
      TableIO.dataDir(table, snap), s"$table/$snap/manifest", nBuckets, waves,
      salts, keyFrame = Some(pipeline))
    TableIO.writeEmptyIfNoBuckets(spark, TableIO.dataDir(table, snap),
      extracted.schema)
    // .filter(_.nonEmpty): a zero-row fresh run's keyed write launches zero
    // tasks, so the Observation completes with an EMPTY map (no metrics row
    // ever accumulated) — fall through to the post-hoc aggregation, which
    // handles the zero-row table explicitly (surfaced by the round-5
    // zero-row schema test).
    val m: Map[String, Any] = obs.map(_.get).filter(_.nonEmpty).getOrElse {
      val dataDir = TableIO.dataDir(table, snap)
      if (spark.read.parquet(dataDir).isEmpty) // zero-row corpus
        Map("turns_out" -> 0L, "empty_turns" -> 0L, "chars_out" -> 0L)
      else {
        val r = spark.read.parquet(dataDir)
          .agg(count(lit(1)).as("turns_out"),
            sum(when(col("text") === "", 1).otherwise(0)).as("empty_turns"),
            sum(length(col("text"))).as("chars_out"))
          .collect()(0)
        Map("turns_out" -> r.get(0), "empty_turns" -> r.get(1),
          "chars_out" -> r.get(2))
      }
    }
    // the manifest total may come from the pre-pass counts rather than the
    // written files, while turns_out counts the rows the write saw (or, on
    // a resumed or multi-wave run, the data dir): a mismatch means the
    // manifest is not the data's. A retry of such a snapshot fails here too.
    if (m("turns_out") != written)
      throw new IllegalStateException(s"$table/$snap: manifest records " +
        s"$written rows but the write observed ${m("turns_out")}; not publishing")
    System.err.println(s"[extract_metrics] turns_out=${m("turns_out")} " +
      s"empty_turns=${m("empty_turns")} chars_out=${m("chars_out")}")
    TableIO.publish(spark, table, snap)
    (snap, written)
  }
}
