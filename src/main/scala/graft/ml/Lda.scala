package graft.ml

import org.apache.spark.ml.clustering.{LDA, LDAModel}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** M4/M5 — LDA topic modeling: the reference's central algorithm
  * (gensim `LdaMulticore`, reference: src/doc_classification.py:39-72, the
  * model call at :52, the num-topics grid at :289-300), re-expressed as
  * MLlib's online-variational LDA over the engine's long-form BOW.
  *
  * The north_star substitutes the E4 block scorer for LDA on the extraction
  * critical path, so this tier exists for reference-user parity: topics,
  * the doc-topic matrix with its dominant-topic flag (M5/M6), the
  * doc-topic correlation matrix behind the reference's heatmap (M17,
  * src/doc_classification.py:192-210), and held-out log-perplexity (M18,
  * `log_perplexity` src/doc_classification.py:71).
  *
  * Scale shape: assembly is the same partial-agg relational build as
  * [[Lsa.projectModel]] (one ObjectHashAggregate shuffle, pre-grouped buffers);
  * online LDA's per-iteration cost is one corpus pass with a broadcast
  * topic matrix (k × vocab, small because the vocab is keepN-capped) —
  * no per-doc driver state, so throughput scales with executors.
  */
object Lda {

  /** Long-form BOW (docKey, token_id, cnt) → (docKey, features: Vector).
    * Relational assembly via [[SparseAssembly.grouped]] (partial-agg
    * shuffle); the typed hop is only the final Vector construction. */
  def assemble(bow: DataFrame, docKey: String, vocabSize: Int): DataFrame = {
    val spark = bow.sparkSession
    import spark.implicits._
    SparseAssembly.grouped(bow, docKey, "cnt")
      .map { case (doc, ps) =>
        (doc, Vectors.sparse(vocabSize, ps.map(_._1).toArray,
          ps.map(_._2).toArray): Vector)
      }
      .toDF(docKey, "features")
  }

  /** Fit k topics with the online variational optimizer (seeded). */
  def fit(features: DataFrame, k: Int, maxIter: Int = 20,
          seed: Long = 7L): LDAModel =
    new LDA().setK(k).setMaxIter(maxIter).setSeed(seed)
      .setFeaturesCol("features").fit(features)

  /** M5/M6 — the FULL doc-topic matrix in long form with the dominant flag:
    * (docKey, topic, weight@6dp, dominant). One row per (doc, topic); the
    * export both serves the reference's doc-topic matrix read AND gives a
    * replaying engine the inputs to recompute any matrix-derived statistic
    * (q56's correlation check recomputes Pearson corr from exactly these
    * rows). Ties break to the LOWEST topic id (array_position first match). */
  def docTopicMatrix(model: LDAModel, features: DataFrame,
                     docKey: String): DataFrame =
    model.transform(features)
      // dominance is decided on the SAME 6dp-rounded weights the matrix
      // exports (ties, incl. rounding-induced ones, break to the lowest
      // topic id — array_position returns the first match), so the flag is
      // exactly derivable from the exported rows: the driver's DuckDB
      // oracle recomputes it per doc via max + first-argmax in SQL.
      .withColumn("dist",
        transform(vector_to_array(col("topicDistribution")), w => round(w, 6)))
      .select(col(docKey), col("dist"),
        posexplode(col("dist")).as(Seq("topic", "weight")))
      .select(col(docKey), col("topic").cast("int").as("topic"),
        col("weight"),
        (col("topic") ===
          (array_position(col("dist"), array_max(col("dist"))) - 1))
          .as("dominant"))

  /** M17 — the doc-topic correlation matrix the reference renders as a
    * heatmap (src/doc_classification.py:192-210): Pearson corr between
    * every topic pair's weight across docs, from the long-form doc-topic
    * matrix. One self-join on doc + one groupBy (t1, t2) — k²·docs rows
    * through a partial-agg shuffle, never a driver-side matrix. */
  def topicCorr(matrix: DataFrame, docKey: String): DataFrame = {
    val a = matrix.select(col(docKey).as("d"), col("topic").as("t1"),
      col("weight").as("w1"))
    val b = matrix.select(col(docKey).as("d"), col("topic").as("t2"),
      col("weight").as("w2"))
    a.join(b, Seq("d")).filter(col("t1") < col("t2"))
      .groupBy(col("t1"), col("t2"))
      // + 0.0 folds IEEE -0.0 to +0.0: a correlation rounding to zero from
      // below otherwise renders "-0.0" here and "0.0" in the DuckDB oracle
      // (or vice versa) and flips the driver's hash compare
      .agg((round(corr(col("w1"), col("w2")), 6) + lit(0.0d)).as("corr"))
  }

  /** M18 — held-out log-perplexity (reference `log_perplexity`,
    * src/doc_classification.py:71). */
  def logPerplexity(model: LDAModel, features: DataFrame): Double =
    model.logPerplexity(features)
}
