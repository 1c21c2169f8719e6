package graft.app

import graft.corpus.Curation
import graft.scale.{Scale, TableIO}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** spark-submit entrypoint for the full corpus build: the curation chain
  * ([[graft.corpus.Curation.build]], the chain q82 runs in one session)
  * with its stages staged through [[Scale.resumableWrite]]:
  *
  *   quality gate → exact dedup → MinHash near-dup prune →
  *   benchmark decontamination → balanced mixture sampling →
  *   sequence packing into fixed-token training blocks
  *
  * Usage:
  *   spark-submit --class graft.app.CurationJob <jar> \
  *     <documentsPath> <tableDir> [nBuckets] [waves] [blockTokens]
  *
  * The build writes two manifest-guarded bucketed tables inside an
  * unpublished staging snapshot: `stage_clean` (the decontaminated
  * survivors, written in `waves` waves) and the block map as the
  * snapshot's data. A killed run resumes from the last committed bucket of
  * the last incomplete stage, and the snapshot becomes visible only at the
  * final atomic pointer flip (TableIO), so readers never see a torn build.
  * Each stage is read back with the schema it was written with. Both
  * tables are keyed and bucketed by doc_id: per-doc rows have no
  * conversation skew, so salts=1.
  *
  * The benchmark set is the [[Curation.isBenchmark]] docs of the input, as
  * in q80 and q82, so the job's output is q82's at the same documents.
  */
object CurationJob {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: CurationJob <documentsPath> <tableDir> [nBuckets] [waves] [blockTokens]")
    val Array(in, table) = args.take(2)
    val nBuckets = if (args.length > 2) args(2).toInt else Scale.DefaultBuckets
    val waves = if (args.length > 3) args(3).toInt else 1
    val blockTokens = if (args.length > 4) args(4).toInt else 256

    val spark = Scale.jobSession("graft-curation")
    spark.sparkContext.setLogLevel("WARN")

    val t0 = System.nanoTime()
    val (snap, blocks) = run(spark, in, table, nBuckets, waves, blockTokens)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[curation-job] wrote $blocks%d block-map rows in $secs%.1f s " +
      f"to $table/$snap (published)")
    spark.stop()
  }

  /** Job body (main minus session lifecycle — testable): returns
    * (published snapshot, block-map rows written). */
  def run(spark: SparkSession, in: String, table: String, nBuckets: Int,
          waves: Int = 1, blockTokens: Int = 256): (String, Long) = {
    val snap = TableIO.openStaging(spark, table,
      s"nBuckets=$nBuckets\nblockTokens=$blockTokens")
    val written = scala.collection.mutable.Map.empty[String, Long]
    def staged(stage: String, dir: String, stageWaves: Int, orderCol: String,
               df: DataFrame): DataFrame = {
      written(stage) = Scale.resumableWrite(df, s"$dir/data", s"$dir/manifest",
        nBuckets, stageWaves, salts = 1, keyCol = "doc_id", orderCol = orderCol)
      spark.read.schema(Scale.bucketedSchema(df.schema)).parquet(s"$dir/data")
    }
    Curation.build(spark.read.parquet(in), blockTokens) {
      case ("survivors", df) => df // stage_clean's write runs them
      case ("clean", df) =>
        staged("clean", s"$table/$snap/stage_clean", waves, "doc_id", df)
      case ("blocks", df) => staged("blocks", s"$table/$snap", 1, "pack_id", df)
    }
    TableIO.publish(spark, table, snap)
    (snap, written("blocks"))
  }
}
