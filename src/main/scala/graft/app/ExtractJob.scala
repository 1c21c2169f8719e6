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
  * Metrics come from `observe` on the write itself, which also checks
  * that the rows it saw are the rows its files hold (Scale.resumableWrite).
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
    * (published snapshot, rows written). `salts` and `cpus` reach no plan
    * and name no snapshot: they are kept for perfbench's source
    * compatibility. The `[extract_metrics]` log line carries the rows this
    * call wrote, their empty turns and their characters, as observed by
    * the write ([[Scale.resumableWrite]]'s `observe`); on a resumed run
    * they cover only the buckets this run wrote, not the whole table. */
  def run(spark: SparkSession, in: String, table: String, nBuckets: Int,
          salts: Int, cpus: Int, waves: Int = 1): (String, Long) = {
    // waves is not a parameter of the staging snapshot: it changes
    // checkpoint granularity, never bucket identity, so a retry may resume
    // the same snapshot at a different wave count.
    val snap = TableIO.openStaging(spark, table, s"nBuckets=$nBuckets")
    // NO upfront repartition: the kernel is per-turn embarrassingly
    // parallel and runs map-side inside the scan stage (size-balanced
    // splits), so the job's ONLY shuffle is the write's keyed rebalance —
    // which is where conversation skew actually bites and where AQE splits
    // a hot bucket. The declared schema means no inference job, and a
    // mistyped input fails the read.
    val turns = spark.read.schema(Turn.schema).parquet(in)
    val written = Scale.resumableWrite(Extract.pipeline(turns),
      TableIO.dataDir(table, snap), s"$table/$snap/manifest", nBuckets, waves, salts,
      observe = Seq(when(col("text") === "", 1).otherwise(0).as("empty_turns"),
        length(col("text")).as("chars_out")))
    val m = written.observed
    System.err.println(s"[extract_metrics] turns_out=${m("rows")} " +
      s"empty_turns=${m("empty_turns")} chars_out=${m("chars_out")}")
    TableIO.publish(spark, table, snap)
    (snap, written.rows)
  }
}
