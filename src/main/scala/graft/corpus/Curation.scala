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
    * frame, the exact-dedup survivors, the token counts) and releases them
    * once the last boundary has returned, so a boundary must have run every
    * job its frame needs by then. A boundary may return its frame
    * unchanged: the next boundary's job then runs the stage too.
    *
    * Exact dedup keeps the smallest doc_id per [[Dedup.fingerprint]] (one
    * aggregate; the quality gate has dropped null text). The near-dup prune
    * is greedy by id: a doc drops when it pairs with ANY lower-id doc at
    * est_jaccard ≥ 0.5, so a transitive chain prunes conservatively.
    * Contamination is a per-doc predicate, so its shingle hits are taken
    * over the exact-dedup survivors, beside the MinHash branch rather than
    * after it; both drops are anti-joins on the raw candidate rows, with no
    * `distinct`. Mixture rates are counted over the clean set, in a job
    * that runs when the sampler is called (after the "clean" boundary).
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
      val keepers = quality.groupBy(Dedup.fingerprint(col("text")))
        .agg(min(col("doc_id")).as("doc_id"))
      val unique = hold(quality.join(keepers, Seq("doc_id"), "left_semi"))
      val nearDropped = nearDupCandidates(tokenized(unique), maxBucket = 0)
        .filter(col("est_jaccard") >= 0.5)
        .select(col("key_b").as("doc_id"))
      val survivors = boundary("survivors",
        unique.join(nearDropped, Seq("doc_id"), "left_anti"))
      val contam = contaminationHits(tokenized(unique), benchmarkTokens(docs),
        "doc_id", "tokens", DecontamK)
      val clean = boundary("clean",
        survivors.join(contam, Seq("doc_id"), "left_anti")
          .select("doc_id", "text", "lang"))
      val kept = sampleToBalanced(clean, "doc_id", "lang")
      val counts = hold(Packing.tokenCounts(kept, "doc_id", "text",
        bucketSize = 4096L))
      val blocks = boundary("blocks",
        Packing.packSpansFromCounts(counts, "doc_id", blockTokens))
      Stages(survivors, blocks)
    } finally held.reverseIterator.foreach(_.unpersist())
  }

  /** (doc_id, tokens): the whitespace tokens the near-dup and
    * decontamination shingles are cut from. */
  private def tokenized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("tokens"))

  /** The curation's near-dup pairs over (doc_id, tokens): md5-portable
    * MinHash LSH on 3-token shingles, 16 hashes in 4 bands
    * ([[graft.dedup.Dedup.minhashLshMd5]]), with its hot-bucket cap. */
  def nearDupPairs(docs: DataFrame, maxBucket: Long = 0): DataFrame =
    nearDupCandidates(docs, maxBucket).distinct()

  /** [[nearDupPairs]] before its `distinct`: a pair once per band it
    * collides in ([[graft.dedup.Dedup.minhashLshCandidates]]). */
  private def nearDupCandidates(docs: DataFrame, maxBucket: Long): DataFrame =
    Dedup.minhashLshCandidates(docs, "doc_id", "tokens", k = 3, numHashes = 16,
      bands = 4, maxBucket = maxBucket)

  /** The evaluation-suite stand-in: documents with doc_id ≡ 0 (mod 97). */
  def isBenchmark(docId: Column): Column = docId % 97 === 0

  /** (doc_id, tokens) of the [[isBenchmark]] docs of `docs` (doc_id,
    * text): the curation's benchmark set. */
  private def benchmarkTokens(docs: DataFrame): DataFrame =
    tokenized(docs.filter(isBenchmark(col("doc_id"))))

  /** (doc_id, n_hits) for each `corpus` (doc_id, tokens) doc sharing a
    * 4-token shingle with the [[isBenchmark]] docs of `docs` (doc_id,
    * text) — [[contaminated]] with the curation's benchmark set and k. */
  def contaminatedBy(corpus: DataFrame, docs: DataFrame): DataFrame =
    contaminated(corpus, benchmarkTokens(docs), "doc_id", "tokens", DecontamK)

  /** Benchmark decontamination: flag corpus documents that share at least
    * one k-token shingle with an evaluation ("benchmark") set, so they can
    * be dropped before training — the n-gram-overlap rule published for
    * GPT-3/Llama-style pretraining pipelines.
    *
    * Returns (key, n_hits): one row per CONTAMINATED corpus doc with the
    * number of its distinct shingles that appear anywhere in the benchmark
    * set — [[contaminationHits]] counted per doc, for an audit of the hit
    * counts. A caller that only drops the flagged docs anti-joins on the
    * hits themselves and skips this aggregate's shuffle.
    */
  def contaminated(corpus: DataFrame, bench: DataFrame, key: String,
                   tokens: String, k: Int): DataFrame =
    contaminationHits(corpus, bench, key, tokens, k)
      .groupBy(key)
      .agg(count(lit(1)).as("n_hits"))

  /** The shingle hits behind [[contaminated]]: (key, sh), one row per
    * distinct k-token shingle of a corpus doc that appears anywhere in the
    * benchmark set.
    *
    * Scale shape: the benchmark set is small by construction (eval suites
    * are thousands of docs, the corpus is billions), so its distinct
    * shingle set is broadcast — the corpus side is ONE scan with a
    * map-side hash probe and no shuffle. Never a corpus×corpus join.
    * Shingling reuses [[graft.dedup.Dedup.shingles]] (same slice semantics
    * as the q28 Jaccard gate).
    */
  def contaminationHits(corpus: DataFrame, bench: DataFrame, key: String,
                        tokens: String, k: Int): DataFrame = {
    val benchShingles = bench
      .select(explode(array_distinct(
        graft.dedup.Dedup.shingles(col(tokens), k))).as("sh"))
      .distinct()
    corpus
      .select(col(key), explode(array_distinct(
        graft.dedup.Dedup.shingles(col(tokens), k))).as("sh"))
      .join(broadcast(benchShingles), Seq("sh"))
      .select(col(key), col("sh"))
  }

  /** Deterministic mixture sampling: downsample every group to (in
    * expectation) the size of the SMALLEST group, yielding a balanced
    * domain mixture. Keep-rate per group is integer ppm
    * (min_count·10⁶ div count); a row is kept iff its portable md5
    * priority (first 8 hex chars of md5(key) mod 10⁶ — the same
    * cross-engine hash the MinHash md5 gate uses) falls under its
    * group's rate. Returns the kept rows of `df`, with all of its columns.
    *
    * Rate-based, NOT exact-n: an exact per-group quota needs a window
    * partitioned by group — with a handful of domains over a 100 TB corpus
    * that is a handful of giant skewed partitions. The per-group counts are
    * one small aggregate, collected when this is called (a handful of rows
    * by design); the rates are computed in the driver and the kept rows are
    * a per-row predicate against them ([[sampleByRates]]). The kept set is
    * fully deterministic in the keys (no RNG), so the oracle replays it
    * row-for-row.
    *
    * `group` is a string column. A null group counts toward the minimum,
    * but none of its rows is kept.
    */
  def sampleToBalanced(df: DataFrame, key: String, group: String): DataFrame = {
    val counts = groupCounts(df, group)
    val rates = counts.values.minOption.fold(Map.empty[String, Long]) { mn =>
      counts.collect { case (Some(g), cnt) => g -> ppm(mn) / cnt }
    }
    sampleByRates(df, key, group, rates)
  }

  /** Target-WEIGHTED mixture sampling: downsample toward arbitrary target
    * proportions `weightsPpm` (group → ppm share, summing to 10⁶) — the
    * general form of [[sampleToBalanced]] (which is the uniform-weights
    * special case). The largest total T consistent with the targets is
    * T = min_g ⌊n_g·10⁶ / p_g⌋ (the group that runs out first caps the
    * corpus); each group then keeps required_g = ⌊p_g·T / 10⁶⌋ rows in
    * expectation via rate_g = ⌊required_g·10⁶ / n_g⌋. All-integer ppm
    * arithmetic in the driver over the collected per-group counts, same
    * portable md5 row priority, same scale shape as [[sampleToBalanced]].
    *
    * Groups absent from `weightsPpm` (the null group too) get weight 0:
    * they do not constrain T and are dropped. Groups in the map but absent
    * from the data simply don't constrain T.
    */
  def sampleToTarget(df: DataFrame, key: String, group: String,
                     weightsPpm: Map[String, Long]): DataFrame = {
    require(weightsPpm.values.forall(_ > 0), "weights must be positive ppm")
    val weighted = groupCounts(df, group).collect {
      case (Some(g), cnt) if weightsPpm.contains(g) => (g, cnt, weightsPpm(g))
    }
    val tMax = weighted.map { case (_, cnt, p) => ppm(cnt) / p }.minOption
    val rates = tMax.fold(Map.empty[String, Long]) { t =>
      weighted.map { case (g, cnt, p) =>
        g -> ppm(Math.multiplyExact(p, t) / 1000000L) / cnt }.toMap
    }
    sampleByRates(df, key, group, rates)
  }

  /** n·10⁶, failing on overflow as Spark's ANSI arithmetic does. */
  private def ppm(n: Long): Long = Math.multiplyExact(n, 1000000L)

  /** The samplers' per-group row counts, null group included (as None). */
  private def groupCounts(df: DataFrame, group: String): Map[Option[String], Long] =
    df.groupBy(col(group)).count().collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap

  /** Shared tail of the samplers: keep the rows whose portable md5
    * priority clears their group's `ratesPpm` entry, a per-row predicate
    * with the rates as a literal map; a group without a rate keeps none. */
  private def sampleByRates(df: DataFrame, key: String, group: String,
                            ratesPpm: Map[String, Long]): DataFrame = {
    val prio = pmod(
      conv(substring(md5(col(key).cast("string")), 1, 8), 16, 10)
        .cast("long"), lit(1000000L))
    df.filter(prio < element_at(typedLit(ratesPpm), col(group)))
  }
}
