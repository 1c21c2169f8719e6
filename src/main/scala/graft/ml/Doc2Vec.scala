package graft.ml

import org.apache.spark.ml.feature.{Word2Vec, Word2VecModel}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** M16 — doc2vec, re-expressed Spark-first (reference:
  * `src/gensim_doc2vec.py:1-13` — `LabeledSentence` iterator wrappers for
  * gensim Doc2Vec; exploratory tier, never wired into a trained model in the
  * repo). The Spark-native equivalent: MLlib Word2Vec (skip-gram, seeded)
  * over the whitespace token stream, with document vectors by
  * token-occurrence averaging — which is exactly `Word2VecModel.transform`'s
  * semantics: the SUM of in-vocab token vectors divided by the TOTAL token
  * count, out-of-vocabulary tokens contributing zero (probed empirically;
  * the q61 DuckDB oracle replays it from q60's exported word vectors over
  * the same integer grid [[docVectors]] sums on, so the cross-engine
  * compare carries NO float-summation-order residual — see docVectors'
  * scaladoc).
  *
  * Scale posture: training is the bottleneck (driver-side vocab, broadcast
  * model, `numPartitions` trades determinism for throughput) — at corpus
  * scale fit on a deterministic sample and `transform` the full corpus,
  * which is embarrassingly parallel (one broadcast of the word map, no
  * shuffle). The fixture fit uses numPartitions=1 + a fixed seed so the
  * model is run-to-run deterministic (Doc2VecSpec).
  */
object Doc2Vec {

  /** Fit the word model on (docKey, tokens). The normalization the fit's
    * determinism depends on lives HERE, not in callers (so no caller has to
    * repeat the orderBy/coalesce dance): the input is bounded to
    * the first `maxFitDocs` docs in `docKey` order, then collapsed to ONE
    * partition — multi-partition Hogwild updates are nondeterministic even
    * under a fixed seed.
    *
    * The single partition is NOT a corpus-scale shape, and the bound is
    * what fences it: at 10^12 turns the
    * fit sees only the deterministic `maxFitDocs`-doc prefix (orderBy+limit
    * = distributed TakeOrdered, never a full corpus sort), while
    * [[docVectors]] transforms the FULL corpus — one broadcast of the word
    * map, no shuffle, embarrassingly parallel. Every testdata sf sits far
    * below the default bound, so gate outputs are unchanged. */
  def fit(docs: DataFrame, docKey: String, tokensCol: String, dim: Int = 8,
          seed: Long = 7L, maxFitDocs: Int = 100000): Word2VecModel =
    new Word2Vec().setInputCol(tokensCol).setOutputCol("docvec")
      .setVectorSize(dim).setSeed(seed).setMinCount(5)
      .setNumPartitions(1).setMaxIter(1)
      .fit(docs.select(col(docKey), col(tokensCol))
        .orderBy(docKey).limit(maxFitDocs).coalesce(1))

  /** The learned word vectors, long-form: (token, dim, w) — w exported at
    * full double precision so q61's oracle can replay the averaging without
    * rounding-boundary noise. */
  def wordVectors(model: Word2VecModel): DataFrame =
    model.getVectors
      .select(col("word").as("token"),
        posexplode(vector_to_array(col("vector"))).as(Seq("dim", "w")))

  /** Document vectors, long-form: (docKey, dim, round(v, 6)) — the
    * `Word2VecModel.transform` averaging (sum of in-vocab token vectors /
    * TOTAL token count, OOV contributing zero to the numerator only),
    * spelled relationally over INTEGER-QUANTIZED word vectors: each
    * component is snapped to the 1e-9 grid (`floor(w·1e9 + 0.5)`, a long)
    * BEFORE summing, so the per-doc sum is exact integer arithmetic —
    * order-independent — and the only float ops left are one division and
    * one 6dp round of bit-identical inputs in both engines. With double
    * summation, Spark's partial-agg order and DuckDB's group order could
    * disagree in the last ulp and flip the 6dp round at a boundary; on the
    * grid the engines cannot diverge at all. The 5e-10 quantization bias
    * is invisible at the 6dp export except within 1e-9 of a rounding
    * boundary — exactly the cases double summation leaves to chance, which
    * the grid pins.
    *
    * Sums stay exact: |wq| ≤ ~5e9 per component and docs are ≤ ~1e3
    * tokens, so per-doc sums sit far below 2^53 (exact as long AND as
    * double). + 0.0 folds IEEE -0.0 to +0.0 (the q61 oracle mirrors).
    * Scale shape: one broadcast of the vocab-sized vector map, one
    * partial-agg shuffle on (doc, dim) — no corpus-side collect. */
  def docVectors(model: Word2VecModel, docs: DataFrame, docKey: String,
                 tokensCol: String = "tokens"): DataFrame = {
    val wv = wordVectors(model)
      .withColumn("wq", floor(col("w") * lit(1e9) + lit(0.5)).cast("long"))
    val dims = wv.select("dim").distinct()
    val sums = docs.select(col(docKey), explode(col(tokensCol)).as("token"))
      .join(broadcast(wv.select("token", "dim", "wq")), "token")
      .groupBy(col(docKey), col("dim")).agg(sum("wq").as("s9"))
    docs.select(col(docKey), size(col(tokensCol)).as("n"))
      .crossJoin(broadcast(dims))
      .join(sums, Seq(docKey, "dim"), "left")
      .select(col(docKey), col("dim"),
        (round(coalesce(col("s9"), lit(0L)).cast("double")
          / (col("n") * lit(1e9)), 6) + lit(0.0d)).as("v"))
  }
}
