package graft.app

import graft.corpus.{Curation, Packing}
import graft.dedup.Dedup
import graft.scale.{Scale, TableIO}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** spark-submit entrypoint for the FULL corpus build — the production
  * spelling of the q82 composition, with every stage boundary staged
  * through [[Scale.resumableWrite]] instead of an in-memory persist:
  *
  *   quality gate → exact dedup → MinHash near-dup prune →
  *   benchmark decontamination → balanced mixture sampling →
  *   sequence packing into fixed-token training blocks
  *
  * Usage:
  *   spark-submit --class graft.app.CurationJob <jar> \
  *     <documentsPath> <tableDir> [nBuckets] [waves] [blockTokens]
  *
  * Scale posture: the single-job spelling (SparkEntry q82) persists the
  * stage boundaries in memory — correct, but a 10^12-row run that dies in
  * the pack stage recomputes the whole curation chain. Here each boundary
  * is a manifest-guarded bucketed table inside the UNPUBLISHED staging
  * snapshot (`stage_clean`, then the final block map as the snapshot's
  * data), so a killed run resumes from the last committed bucket of the
  * last incomplete stage, and readers of the published table never see a
  * torn build — the snapshot becomes visible only at the final atomic
  * pointer flip (TableIO). Stages are keyed/bucketed by doc_id (the
  * resumableWrite keyCol generalization): per-doc rows have no
  * conversation skew, so salts=1.
  *
  * The benchmark set here is the deployment's eval-suite table; this main
  * takes it as the docs with doc_id ≡ 0 (mod 97), matching the gated q80
  * fixture rule, so the job is end-to-end replayable against the q82
  * oracle chain at test scale.
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
    val params = s"nBuckets=$nBuckets\nblockTokens=$blockTokens"
    val current = TableIO.currentSnapshot(spark, table)
    val snap = TableIO.snapshots(spark, table)
      .filter(s => current.forall(c => TableIO.snapNum(c) < TableIO.snapNum(s)))
      .lastOption
      .filter(s => TableIO.readSidecar(spark, table, s, "params")
        .contains(params))
      .getOrElse(TableIO.nextSnapshotName(spark, table))
    TableIO.writeSidecar(spark, table, snap, "params", params)

    // ---- stage 1: quality → exact dedup → near-dup prune → decontaminate.
    // One resumable boundary for the whole narrow chain: every step is a
    // per-row projection or a bounded keyed shuffle over the shrinking
    // survivor set, so there is nothing worth checkpointing between them —
    // the expensive thing to never redo is the full-corpus scan they share.
    val cleanDir = s"$table/$snap/stage_clean"
    if (Scale.completedBuckets(spark, s"$cleanDir/manifest").size < nBuckets) {
      val docs = spark.read.parquet(in)
      val quality = docs.select(col("doc_id"), col("text"), col("lang"),
          graft.textstats.TextStatsExprs.qualityScorePpm(col("text"),
            graft.text.Normalize.DefaultStops).as("quality_ppm"))
        .filter(col("quality_ppm") >= 650000L)
      val keepers = Dedup.exact(quality, "doc_id", "text")
        .filter(col("keep")).select("doc_id")
      val unique = quality.join(keepers, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("text"), col("lang"),
          split(col("text"), " ").as("tokens"))
        .persist() // within-stage reuse (LSH self-join sides + anti-joins)
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
        .select("doc_id", "text", "lang")
      Scale.resumableWrite(clean, s"$cleanDir/data", s"$cleanDir/manifest",
        nBuckets, waves, salts = 1, keyCol = "doc_id", orderCol = "doc_id")
      unique.unpersist()
      ()
    }
    val clean = spark.read.parquet(s"$cleanDir/data")

    // ---- stage 2: mixture-sample the staged clean table, pack, and write
    // the final block map as the snapshot data. The sampler and both
    // prefix-sum passes read the STAGED parquet (not a recomputation), so
    // the curation chain above never re-runs even though this stage scans
    // its input three times (rates count + kept filter + token counts);
    // the token-counts frame itself is tiny and persisted.
    val kept = Curation.sampleToBalanced(
      clean.select(col("doc_id"), col("lang")), "doc_id", "lang")
    val counts = Packing.tokenCounts(
        clean.join(kept.select("doc_id"), Seq("doc_id"))
          .select(col("doc_id"), col("text")),
        "doc_id", "text", bucketSize = 4096L)
      .persist()
    val blocks: DataFrame = Packing.packSpansFromCounts(counts, "doc_id",
      blockTokens)
    val written = Scale.resumableWrite(blocks,
      TableIO.dataDir(table, snap), s"$table/$snap/manifest", nBuckets,
      waves = 1, salts = 1, keyCol = "doc_id", orderCol = "pack_id")
    counts.unpersist()
    if (!Scale.hasBucketData(spark, TableIO.dataDir(table, snap)))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        blocks.schema.add("bucket",
          org.apache.spark.sql.types.IntegerType, nullable = false))
        .repartition(1).write.mode("overwrite")
        .parquet(TableIO.dataDir(table, snap))
    TableIO.publish(spark, table, snap)
    (snap, written)
  }
}
