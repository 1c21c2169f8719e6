package graft.corpus

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A2–A4 + M1 — corpus-global vocabulary statistics, dictionary, bag-of-words
  * and TF-IDF (SURVEY.md §2.3, §2.8). The reference delegates these to
  * gensim's `corpora.Dictionary` / `doc2bow`
  * (reference: modules/main_corpus_processing.py:164-178) and sklearn's
  * `TfidfVectorizer` (reference: modules/k_means_approach.py:18-19,
  * src/supervised.py:118-121); here they are plain relational algebra so
  * Catalyst plans them — the df-stats aggregation is the pipeline's only
  * wide dependency (SURVEY.md §3), executed as partial+final hash aggregate.
  *
  * Scale notes (100 TB design):
  *  - token explosion shuffles once on `token` for df stats; map-side
  *    partial aggregation keeps the exchange proportional to |vocab|, not
  *    corpus size;
  *  - the pruned vocabulary is small by construction (`keep_n` cap —
  *    reference keeps ≤127 terms, src/LDAvis_choose_n_topics/bow_corpus_7.mm)
  *    so it broadcast-joins back onto the corpus: BOW assembly is narrow;
  *  - ids are deterministic (sort-then-index over the pruned vocab with a
  *    stable tie-break), NEVER `monotonically_increasing_id` (SURVEY.md A2).
  */
object Vocab {

  /** Explode a token-array column into long form (docKey, token). */
  def tokensLong(df: DataFrame, docKey: String, tokensCol: String): DataFrame =
    df.select(col(docKey), explode(col(tokensCol)).as("token"))

  /** THE shared aggregation of the text tier: per-document term frequencies
    * (docKey, token, cnt). Dictionary df-stats, BOW and tf-idf all derive
    * from this one aggregate, so a pipeline that consumes it twice shares
    * the tokenize+explode+shuffle subtree via Spark's ReuseExchange instead
    * of recomputing tokenization once per branch (3× the dominant
    * narrow-stage cost at 100 TB). */
  def termCounts(tokensLong: DataFrame, docKey: String): DataFrame =
    tokensLong.groupBy(col(docKey), col("token")).agg(count(lit(1)).as("cnt"))

  /** A3 (stats half) — document frequency per token, derived from the term
    * counts (one row per (doc, token) pair, so a count is the df).
    *
    * NOTE: a consumer that needs BOTH this and [[bowFromCounts]] holds a
    * plan diamond over termCounts that Catalyst cannot share (this branch
    * prunes cnt, so the two shuffles never canonicalize equal — verified
    * empirically; exchange reuse does not fire). Materialize termCounts
    * explicitly at the call site: .persist() locally, a checkpoint/table
    * write at 100 TB. */
  def dfFromCounts(termCounts: DataFrame): DataFrame =
    termCounts.groupBy("token").agg(count(lit(1)).as("df"))

  /** A2+A3 — build the dictionary from term counts: filter extremes
    * (df < noBelow || df > noAbove·N dropped; reference:
    * main_corpus_processing.py:174 with call-site params
    * src/doc_classification.py:479-482), cap at keepN most frequent, then
    * assign deterministic ids by (df desc, token asc) — stable across runs
    * and partitionings. Returns (token, id, df).
    *
    * Id assignment is scale-safe: a distributed TakeOrdered (`orderBy` +
    * `limit`) caps the candidate set at keepN BEFORE the single-partition
    * ranking window — one unbounded global window sort over the whole
    * pruned vocab is, under a permissive noBelow, a billions-of-rows single
    * partition at web scale. */
  def buildFromCounts(termCounts: DataFrame, nDocs: Long,
                      noBelow: Long = 1, noAbove: Double = 1.0,
                      keepN: Int = 100000): DataFrame = {
    val stats = dfFromCounts(termCounts)
      .filter(col("df") >= noBelow && col("df") <= (lit(noAbove) * nDocs))
    val top = stats.orderBy(col("df").desc, col("token").asc).limit(keepN)
    val w = Window.orderBy(col("df").desc, col("token").asc)
    top
      .withColumn("rk", row_number().over(w))
      .select(col("token"), (col("rk") - 1).cast("long").as("id"), col("df"))
  }

  /** A4 — bag of words in long form (docKey, token_id, cnt) from the shared
    * term counts: broadcast-join the pruned vocab onto the aggregate. Long
    * form keeps downstream ops relational (SURVEY.md §1 BOW row). */
  def bowFromCounts(termCounts: DataFrame, vocab: DataFrame,
                    docKey: String): DataFrame =
    termCounts
      .join(broadcast(vocab.select("token", "id")), Seq("token"))
      .select(col(docKey), col("id").as("token_id"), col("cnt"))

  /** M1 — TF-IDF straight from the shared term counts in ONE vocab join:
    * the broadcast vocab carries both id and df, so the plan holds a single
    * vocab-build subtree (never one for the bow ids and a second for a df
    * re-join). idf = ln(N/df); sublinear tf = 1+ln(tf).
    * (reference: TfidfVectorizer(max_df=.5) k_means_approach.py:18;
    * sublinear variant supervised.py:118. HashingTF is rejected — hash
    * collisions break fixture equality, SURVEY.md M1.) */
  def tfidfFromCounts(termCounts: DataFrame, vocab: DataFrame, docKey: String,
                      nDocs: Long, sublinear: Boolean = false): DataFrame = {
    val tf: Column =
      if (sublinear) lit(1.0) + log(col("cnt").cast("double"))
      else col("cnt").cast("double")
    termCounts
      .join(broadcast(vocab.select(col("token"), col("id"), col("df"))), Seq("token"))
      .withColumn("tfidf", tf * log(lit(nDocs.toDouble) / col("df").cast("double")))
      .select(col(docKey), col("id").as("token_id"), col("cnt"), col("tfidf"))
  }
}
