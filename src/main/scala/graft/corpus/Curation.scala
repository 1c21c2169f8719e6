package graft.corpus

import graft.dedup.Dedup
import graft.text.Normalize
import graft.textstats.TextStatsExprs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The corpus-curation chain and its passes. [[build]] is the one spelling
  * of the chain, with its constants:
  *
  *   quality gate → exact dedup → MinHash near-dup prune → benchmark
  *   decontamination → balanced mixture sampling → sequence packing
  *
  * q74, q82 and `graft.app.CurationJob` all run it; they differ only in how
  * a stage is materialized. Every pass is deterministic and
  * integer/ppm-exact, so the DuckDB oracles replay it bit-for-bit (no RNG,
  * no float thresholds crossing engines).
  */
object Curation {

  /** A document passes the quality gate at this integer-ppm score. */
  private val QualityMinPpm = 650000L

  /** Decontamination shingle length, in tokens. */
  private val DecontamK = 4

  /** What [[build]]'s callers read: its first and last stage. */
  final case class Stages(survivors: DataFrame, blocks: DataFrame)

  /** The curation chain over `docs` (doc_id, text, lang), packed into
    * `blockTokens`-token blocks. `boundary(stage, frame)` materializes each
    * stage and returns the frame later stages read; it is called in order
    * with
    *  - "survivors": (doc_id, text, lang, quality_ppm), the docs that pass
    *    the quality gate, exact dedup and the near-dup prune;
    *  - "clean": (doc_id, text, lang), the survivors minus the docs that
    *    share a shingle with the benchmark set ([[isBenchmark]] docs of
    *    `docs`);
    *  - "blocks": (pack_id, doc_id, start_tok, end_tok), the block map of
    *    the mixture-sampled clean docs.
    *
    * The chain persists the frames it reads more than once (the quality
    * frame, the near-dup self-join input, the token counts) and releases
    * them once the last boundary has returned, so a boundary must have run
    * every job its frame needs by then. A boundary may return its frame
    * unchanged: the next boundary's job then runs the stage too.
    *
    * The near-dup prune is greedy by id: a doc drops when it pairs with ANY
    * lower-id doc at est_jaccard ≥ 0.5, so a transitive chain prunes
    * conservatively. Mixture rates are counted over the clean set.
    */
  def build(docs: DataFrame, blockTokens: Int)(
      boundary: (String, DataFrame) => DataFrame): Stages = {
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def hold(df: DataFrame): DataFrame = { held += df.persist(); df }
    try {
      val quality = hold(docs.select(col("doc_id"), col("text"), col("lang"),
          TextStatsExprs.qualityScorePpm(col("text"), Normalize.DefaultStops)
            .as("quality_ppm"))
        .filter(col("quality_ppm") >= QualityMinPpm))
      val keepers = Dedup.exact(quality, "doc_id", "text")
        .filter(col("keep")).select("doc_id")
      val unique = hold(quality.join(keepers, Seq("doc_id"), "left_semi"))
      val nearDropped = nearDupPairs(tokenized(unique))
        .filter(col("est_jaccard") >= 0.5)
        .select(col("key_b").as("doc_id")).distinct()
      val survivors = boundary("survivors",
        unique.join(nearDropped, Seq("doc_id"), "left_anti"))
      val contam = contaminatedBy(tokenized(survivors), docs).select("doc_id")
      val clean = boundary("clean",
        survivors.join(contam, Seq("doc_id"), "left_anti")
          .select("doc_id", "text", "lang"))
      val kept = sampleToBalanced(clean.select(col("doc_id"), col("lang")),
        "doc_id", "lang")
      val counts = hold(Packing.tokenCounts(
        clean.join(kept.select("doc_id"), Seq("doc_id"))
          .select(col("doc_id"), col("text")),
        "doc_id", "text", bucketSize = 4096L))
      val blocks = boundary("blocks",
        Packing.packSpansFromCounts(counts, "doc_id", blockTokens))
      Stages(survivors, blocks)
    } finally held.reverseIterator.foreach(_.unpersist())
  }

  /** (doc_id, tokens): the whitespace tokens the near-dup and
    * decontamination shingles are cut from. */
  private def tokenized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("tokens"))

  /** The curation's near-dup candidate pairs over (doc_id, tokens):
    * md5-portable MinHash LSH on 3-token shingles, 16 hashes in 4 bands
    * ([[graft.dedup.Dedup.minhashLshMd5]]), with its hot-bucket cap. */
  def nearDupPairs(docs: DataFrame, maxBucket: Long = 0): DataFrame =
    Dedup.minhashLshMd5(docs, "doc_id", "tokens", k = 3, numHashes = 16,
      bands = 4, maxBucket = maxBucket)

  /** The evaluation-suite stand-in: documents with doc_id ≡ 0 (mod 97). */
  def isBenchmark(docId: Column): Column = docId % 97 === 0

  /** (doc_id, n_hits) for each `corpus` (doc_id, tokens) doc sharing a
    * 4-token shingle with the [[isBenchmark]] docs of `docs` (doc_id,
    * text) — [[contaminated]] with the curation's benchmark set and k. */
  def contaminatedBy(corpus: DataFrame, docs: DataFrame): DataFrame =
    contaminated(corpus, tokenized(docs.filter(isBenchmark(col("doc_id")))),
      "doc_id", "tokens", DecontamK)

  /** Benchmark decontamination: flag corpus documents that share at least
    * one k-token shingle with an evaluation ("benchmark") set, so they can
    * be dropped before training — the n-gram-overlap rule published for
    * GPT-3/Llama-style pretraining pipelines.
    *
    * Returns (key, n_hits): one row per CONTAMINATED corpus doc with the
    * number of its distinct shingles that appear anywhere in the benchmark
    * set. The caller anti-joins to clean (or audits the hit counts).
    *
    * Scale shape: the benchmark set is small by construction (eval suites
    * are thousands of docs, the corpus is billions), so its distinct
    * shingle set is broadcast — the corpus side is ONE scan with a
    * map-side hash probe and a single groupBy(key) shuffle for the counts.
    * Never a corpus×corpus join. Shingling reuses [[graft.dedup.Dedup
    * .shingles]] (same slice semantics as the q28 Jaccard gate).
    */
  def contaminated(corpus: DataFrame, bench: DataFrame, key: String,
                   tokens: String, k: Int): DataFrame = {
    val benchShingles = bench
      .select(explode(array_distinct(
        graft.dedup.Dedup.shingles(col(tokens), k))).as("sh"))
      .distinct()
    corpus
      .select(col(key), explode(array_distinct(
        graft.dedup.Dedup.shingles(col(tokens), k))).as("sh"))
      .join(broadcast(benchShingles), Seq("sh"))
      .groupBy(key)
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Deterministic mixture sampling: downsample every group to (in
    * expectation) the size of the SMALLEST group, yielding a balanced
    * domain mixture. Keep-rate per group is integer ppm
    * (min_count·10⁶ div count); a row is kept iff its portable md5
    * priority (first 8 hex chars of md5(key) mod 10⁶ — the same
    * cross-engine hash the MinHash md5 gate uses) falls under its
    * group's rate.
    *
    * Rate-based, NOT exact-n: an exact per-group quota needs a window
    * partitioned by group — with a handful of domains over a 100 TB corpus
    * that is a handful of giant skewed partitions. The rate filter is a
    * pure per-row predicate: the only shuffle is the tiny per-group count
    * aggregate, which then rides back in as a broadcast join. The kept set
    * is fully deterministic in the keys (no RNG), so the oracle replays it
    * row-for-row.
    *
    * The input is scanned twice (counts, then filter) — at scale, stage or
    * persist the narrow (key, group) projection between the passes, the
    * same discipline as [[Packing.tokenCounts]].
    */
  def sampleToBalanced(df: DataFrame, key: String, group: String): DataFrame = {
    val counts = df.groupBy(group).agg(count(lit(1)).as("cnt"))
    val minCnt = counts.agg(min(col("cnt")).as("mn"))
    val rates = counts.crossJoin(broadcast(minCnt))
      .select(col(group),
        expr("CAST(mn * 1000000 DIV cnt AS BIGINT)").as("r_ppm"))
    sampleByRates(df, key, group, rates)
  }

  /** Target-WEIGHTED mixture sampling: downsample toward arbitrary target
    * proportions `weightsPpm` (group → ppm share, summing to 10⁶) — the
    * general form of [[sampleToBalanced]] (which is the uniform-weights
    * special case). The largest total T consistent with the targets is
    * T = min_g ⌊n_g·10⁶ / p_g⌋ (the group that runs out first caps the
    * corpus); each group then keeps required_g = ⌊p_g·T / 10⁶⌋ rows in
    * expectation via rate_g = ⌊required_g·10⁶ / n_g⌋. All-integer ppm
    * arithmetic, same portable md5 row priority, same scale shape: the
    * only shuffle is the tiny per-group count.
    *
    * Groups absent from `weightsPpm` get weight 0 and are dropped; groups
    * in the map but absent from the data simply don't constrain T.
    */
  def sampleToTarget(df: DataFrame, key: String, group: String,
                     weightsPpm: Map[String, Long]): DataFrame = {
    require(weightsPpm.values.forall(_ > 0), "weights must be positive ppm")
    val s = df.sparkSession
    import scala.jdk.CollectionConverters._
    val w = s.createDataFrame(
      weightsPpm.toSeq.sortBy(_._1)
        .map { case (g, p) => org.apache.spark.sql.Row(g, p) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(group,
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("p_ppm",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val counts = df.groupBy(group).agg(count(lit(1)).as("cnt"))
      .join(broadcast(w), Seq(group))
    val tMax = counts
      .agg(min(expr("CAST(cnt * 1000000 DIV p_ppm AS BIGINT)")).as("t"))
    val rates = counts.crossJoin(broadcast(tMax))
      .select(col(group),
        expr("CAST((p_ppm * t DIV 1000000) * 1000000 DIV cnt AS BIGINT)")
          .as("r_ppm"))
    sampleByRates(df, key, group, rates)
  }

  /** Shared tail of the samplers: broadcast the tiny (group, r_ppm) frame
    * and keep rows whose portable md5 priority clears their group's rate. */
  private def sampleByRates(df: DataFrame, key: String, group: String,
                            rates: DataFrame): DataFrame = {
    val prio = pmod(
      conv(substring(md5(col(key).cast("string")), 1, 8), 16, 10)
        .cast("long"), lit(1000000L))
    df.join(broadcast(rates), Seq(group))
      .filter(prio < col("r_ppm"))
      .select(col(key), col(group))
  }
}
