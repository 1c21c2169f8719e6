package graft.corpus

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for LLM pretraining — the concat-and-split shape: the
  * corpus is (logically) concatenated in key order with one EOS token after
  * each document, then cut into fixed `blockTokens` training blocks; the
  * output maps every document to the block(s) its tokens land in, with its
  * global token span. This is the standard GPT-style packing (documents
  * never pad, blocks never waste tokens); the map is what a loader needs to
  * materialize any block by fetching its member documents.
  *
  * Scale design — the whole operator is a DISTRIBUTED PREFIX SUM, never a
  * global single-partition window: token counts aggregate per key-range
  * bucket (`bucketSize` keys per bucket), the per-bucket totals cumsum in a
  * frame that is n/bucketSize rows (tiny relative to the corpus; recurse
  * the same trick if even that outgrows one task), bucket offsets broadcast
  * back, and the intra-bucket cumsum runs as a window PARTITIONED BY bucket
  * — so the corpus-sized data only ever shuffles once, keyed by bucket.
  * A naive `Window.orderBy(key)` cumsum funnels 10^12 rows through ONE
  * task; this shape never does.
  *
  * Determinism: token counts are integers, the order is the explicit key —
  * the block map is bit-identical across engines and runs (no floats
  * anywhere), so the driver's DuckDB oracle replays it with a plain SQL
  * running sum.
  */
object Packing {

  /** The whitespace class, spelled EXPLICITLY instead of `\s`: Java's `\s`
    * is `[ \t\n\x0B\f\r]` while RE2's (the DuckDB oracle engine) omits the
    * vertical tab — a `\x0B` between words would tokenize differently
    * cross-engine and shift every downstream span (round-6 review
    * finding). The explicit class is bit-identical to Java `\s`, and its
    * RE2 spelling (`[ \t\n\v\f\r]+`) matches it exactly. */
  val WsClass = "[ \\t\\n\\x0B\\f\\r]+"

  /** Pass 1 of the prefix sum: the narrow (key, n_tok, bucket) frame —
    * token count = whitespace tokens + 1 (the EOS separator appended after
    * every doc), bucket = key div `bucketSize`. The bucket width only sets
    * how the prefix sum splits into passes: every width gives the same
    * block map. [[packSpansFromCounts]] reads this frame twice (bucket
    * totals + placement), so a caller over a large corpus persists or
    * stages it between the two ([[Curation.build]] persists it); otherwise
    * the tokenize projection runs two corpus scans in one job. */
  def tokenCounts(docs: DataFrame, key: String, textCol: String,
                  bucketSize: Long): DataFrame =
    docs.select(col(key),
      (size(filter(split(col(textCol), WsClass), t => length(t) > 0)) + 1)
        .cast("long").as("n_tok"),
      floor(col(key) / bucketSize).cast("long").as("bucket"))

  /** Map each document to its training blocks — convenience composition of
    * [[tokenCounts]] → [[packSpansFromCounts]], which reads the counts
    * twice (see [[tokenCounts]]).
    *
    * Output: (pack_id, key, start_tok, end_tok) — global token span
    * [start_tok, end_tok) of the doc in the concatenated stream, one row
    * per (doc, block) — a doc straddling a block boundary appears once per
    * block it touches. */
  def packSpans(docs: DataFrame, key: String, textCol: String,
                blockTokens: Int, bucketSize: Long = 4096L): DataFrame = {
    require(blockTokens > 0 && bucketSize > 0)
    packSpansFromCounts(tokenCounts(docs, key, textCol, bucketSize), key,
      blockTokens)
  }

  /** The block map from a (possibly staged) [[tokenCounts]] frame. */
  def packSpansFromCounts(counted: DataFrame, key: String,
                          blockTokens: Int): DataFrame = {
    require(blockTokens > 0)
    // pass 1: per-bucket totals, cumsum over the (tiny) bucket frame —
    // exclusive prefix: offset of bucket b = Σ totals of buckets < b
    val bucketOffsets = counted.groupBy("bucket")
      .agg(sum("n_tok").as("bucket_tok"))
      .withColumn("bucket_off",
        coalesce(sum(col("bucket_tok"))
          .over(Window.orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("bucket_off"))
    // pass 2: intra-bucket inclusive cumsum, partitioned by bucket (the
    // only corpus-sized exchange), then global span = bucket offset +
    // intra prefix
    val intra = Window.partitionBy(col("bucket")).orderBy(col(key))
      .rowsBetween(Window.unboundedPreceding, 0)
    counted
      .withColumn("cum_in", sum(col("n_tok")).over(intra))
      .join(broadcast(bucketOffsets), Seq("bucket"))
      .withColumn("end_tok", col("bucket_off") + col("cum_in"))
      .withColumn("start_tok", col("end_tok") - col("n_tok"))
      .select(
        explode(sequence(floor(col("start_tok") / blockTokens),
          floor((col("end_tok") - 1) / blockTokens))).as("pack_id"),
        col(key), col("start_tok"), col("end_tok"))
  }
}
