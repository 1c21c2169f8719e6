package graft.app

import graft.core.Turn
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
  * Scale posture (north_rule): input is read with the declared
  * `Turn.schema` (at 10^12 turns this is an Iceberg table with
  * bucket(conv_id) partitioning; here a parquet dir);
  * the per-turn kernel is embarrassingly parallel and runs MAP-SIDE in the
  * scan stage — the job's only shuffle is the write's keyed rebalance,
  * whose map statistics size the fan-out: AQE splits a bucket that a
  * skewed long conversation makes hot, and an unskewed corpus writes one
  * file per bucket (Scale.resumableWrite). The write is bucket-partitioned
  * and manifest-guarded INSIDE an unpublished snapshot directory, so a
  * resumed run recomputes only unfinished buckets AND readers of the
  * published table never see a torn write — the snapshot becomes visible
  * only at the final atomic pointer flip (TableIO).
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
    * (published snapshot, rows written). `salts` and `cpus` reach no plan:
    * they are kept for perfbench's source compatibility, and `salts` still
    * names the staging snapshot's params. */
  def run(spark: SparkSession, in: String, table: String, nBuckets: Int,
          salts: Int, cpus: Int, waves: Int = 1): (String, Long) = {
    // waves is not a parameter of the staging snapshot: it changes
    // checkpoint granularity, never bucket identity, so a retry may resume
    // the same snapshot at a different wave count.
    val snap = TableIO.openStaging(spark, table, s"nBuckets=$nBuckets\nsalts=$salts")
    // NO upfront repartition: the kernel is per-turn embarrassingly
    // parallel and runs map-side inside the scan stage (size-balanced
    // splits), so the job's ONLY shuffle is the write's keyed rebalance —
    // which is where conversation skew actually bites and where AQE splits
    // a hot bucket. The declared schema means no inference job, and a
    // mistyped input fails the read.
    val turns = spark.read.schema(Turn.schema).parquet(in)
    // Observation (not a bare .observe name): the metrics are retrieved
    // after the write action and printed; a bare-name observe would compute
    // the aggregates on every row and discard them. Attached ONLY on a
    // FRESH single-wave run:
    //  - an Observation is single-shot, and its CollectMetrics node is a
    //    pushdown barrier — under waves>1 it would pin the kernel ABOVE the
    //    wave's bucket filter (kernel × waves) and capture wave-0's subset
    //    as the job metric;
    //  - on a RESUMED snapshot the observed plan either never executes
    //    (all buckets already manifested → resumableWrite runs no write
    //    job, and obs.get would block forever) or sees only the re-written
    //    subset.
    // Both fall back to one aggregation over the written table.
    val resumed = Scale.manifestRows(spark, s"$table/$snap/manifest").nonEmpty
    val pipeline = Extract.pipeline(turns)
    val obs =
      if (waves == 1 && !resumed)
        Some(org.apache.spark.sql.Observation("extract_metrics"))
      else None
    val metrics = Seq(count(lit(1)).as("turns_out"),
      coalesce(sum(when(col("text") === "", 1).otherwise(0)), lit(0L)).as("empty_turns"),
      coalesce(sum(length(col("text"))), lit(0L)).as("chars_out"))
    val extracted = obs.fold(pipeline)(o => pipeline.observe(o, metrics.head, metrics.tail: _*))
    val written = Scale.resumableWrite(extracted,
      TableIO.dataDir(table, snap), s"$table/$snap/manifest", nBuckets, waves, salts)
    // .filter(_.nonEmpty): a zero-row fresh run's keyed write launches zero
    // tasks, so the Observation completes with an EMPTY map (no metrics row
    // ever accumulated) — fall through to the aggregation over the written
    // table, which reads the zero-row table as zeros.
    val m: Map[String, Any] = obs.map(_.get).filter(_.nonEmpty).getOrElse {
      val r = spark.read.parquet(TableIO.dataDir(table, snap))
        .agg(metrics.head, metrics.tail: _*).collect()(0)
      Map("turns_out" -> r.get(0), "empty_turns" -> r.get(1), "chars_out" -> r.get(2))
    }
    // the manifest records the committed files' footer counts, while
    // turns_out counts the rows the write saw (or, on a resumed or
    // multi-wave run, the data dir): a mismatch means the manifest is not
    // the data's. A retry of such a snapshot fails here too.
    if (m("turns_out") != written)
      throw new IllegalStateException(s"$table/$snap: manifest records " +
        s"$written rows but the write observed ${m("turns_out")}; not publishing")
    System.err.println(s"[extract_metrics] turns_out=${m("turns_out")} " +
      s"empty_turns=${m("empty_turns")} chars_out=${m("chars_out")}")
    TableIO.publish(spark, table, snap)
    (snap, written)
  }
}
