package graft.score

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** E4 — the lightweight block classifier: a logistic scorer over
  * densitometric block features, applied partition-parallel as
  * broadcast-weight column math. Replaces the reference's model tier
  * (LDA topic inference src/doc_classification.py:116-124, RandomForest
  * src/supervised.py:142-146, keras autoencoder src/autoencoder.py:15-42)
  * with no external ML runtime: weights are plain Scala doubles baked into
  * the plan as literals (≡ broadcast — they ship once per executor inside
  * the serialized plan), and the dot product is flat scalar arithmetic
  * inside whole-stage codegen. Also the relational model-evaluation
  * operators (M11–M13).
  */
object Scorer {

  /** Default content-vs-chrome logistic weights (fit offline on the fixture
    * set — FIXTURES.md family 6; positive class = content), in the feature
    * order of [[scoreSql]]. */
  val DefaultW: Seq[Double] = Seq(2.0, -4.0, -3.0, 1.0, -1.5)
  val DefaultB: Double = 0.25

  /** SQL expression text for sigmoid(w·features(block) + b) over a lexed
    * block struct variable `v` — the one scorer spelling: Extract's
    * composed transform evaluates it, and the native
    * [[graft.extract.ExtractTurnExpr]] mirrors it op for op (ExtractSpec
    * pins the two kernels equal). PURE ARITHMETIC over the counts the lexer already
    * derived (v.nWords / v.nStops / v.nDigits, computed in Block.make's
    * single text pass against the shared stoplist
    * [[graft.text.Normalize.DefaultStops]]); re-tokenizing every block with
    * split/lower/regexp expressions costs 4× whole-kernel throughput
    * (measured). Feature order: text_len_n, link_density, tag_density,
    * stop_ratio, digit_ratio. */
  def scoreSql(v: String, w: Seq[Double] = DefaultW,
               b: Double = DefaultB): String = {
    // flat scalar dot product — no array construction / aggregate lambda
    // machinery per block (the feature count is a compile-time constant)
    val feats = Seq(
      s"least(CAST(length($v.text) AS DOUBLE) / 256.0D, 1.0D)",
      s"CAST($v.linkChars AS DOUBLE) / greatest(length($v.text), 1)",
      s"CAST($v.nTags AS DOUBLE) / greatest(length($v.text), 1)",
      s"CAST($v.nStops AS DOUBLE) / greatest($v.nWords, 1)",
      s"CAST($v.nDigits AS DOUBLE) / greatest(length($v.text), 1)")
    require(w.length == feats.length, s"need ${feats.length} weights")
    val z = w.zip(feats).map { case (wi, f) => s"${wi}D * ($f)" }
      .mkString(" + ")
    s"1.0D / (1.0D + exp(-($z + ${b}D)))"
  }

  /** M12 — per-label precision/recall/F1/support plus the overall accuracy
    * scalar (repeated per row — relational shape) from (label, predicted)
    * columns, as one aggregation (reference:
    * precision_recall_fscore_support + accuracy print,
    * src/supervised.py:149-161). The accuracy window runs over the
    * already-aggregated |labels|-row frame, not the raw data. */
  def prfSupport(df: DataFrame, labelCol: String, predCol: String): DataFrame = {
    val l = col(labelCol); val p = col(predCol)
    val byLabel = df.groupBy(l.as("label")).agg(
      count(lit(1)).as("support"),
      sum(when(p === l, 1).otherwise(0)).as("tp"))
    val byPred = df.groupBy(p.as("label")).agg(count(lit(1)).as("predicted"))
    val all = org.apache.spark.sql.expressions.Window.partitionBy()
    byLabel.join(byPred, Seq("label"), "full_outer")
      .na.fill(0, Seq("support", "tp", "predicted"))
      .withColumn("precision",
        round(col("tp").cast("double") / greatest(col("predicted"), lit(1)), 6))
      .withColumn("recall",
        round(col("tp").cast("double") / greatest(col("support"), lit(1)), 6))
      .withColumn("f1", round(
        when(col("precision") + col("recall") > 0,
          lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall"))).otherwise(0.0), 6))
      .withColumn("accuracy", round(
        sum(col("tp")).over(all).cast("double") /
          greatest(sum(col("support")).over(all), lit(1)).cast("double"), 6))
      .select("label", "precision", "recall", "f1", "support", "accuracy")
  }

  /** M11 — deterministic stratified split: within each label, rank rows by
    * (md5(key), key) and mark the first ceil(n·testNum/testDen) as test —
    * EXACT per-label proportions (reference: train_test_split(stratify=
    * labels), src/supervised.py:116), reproducible across runs and
    * partitionings, no RNG. Integer ceil avoids any float boundary between
    * engines. Costs one per-label sort (window); a web-scale corpus with a
    * handful of labels should prefer the approximate per-label
    * hash-threshold variant instead — exactness is the reference's
    * semantics, so it is the checked default. */
  def stratifiedSplit(df: DataFrame, labelCol: String, keyCol: String,
                      testNum: Int, testDen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(labelCol))
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    val cw = Window.partitionBy(col(labelCol))
    df.withColumn("rk", row_number().over(w))
      .withColumn("n_label", count(lit(1)).over(cw))
      .withColumn("is_test",
        col("rk") <= expr(s"(n_label * $testNum + ${testDen - 1}) div $testDen"))
      .drop("rk", "n_label")
  }

  /** M13 — hyperparameter grid search as ONE relational pass (reference:
    * the config loop retraining RandomForest per point,
    * src/supervised.py:66-76,123-139). The engine's scorer is closed-form,
    * so the searched hyperparameter is the decision threshold: the literal
    * grid explodes against the scored rows (grid × rows, still narrow),
    * then one partial-agg shuffle keyed by threshold produces the full
    * confusion counts and metrics per grid point — every candidate is
    * evaluated in a single corpus pass instead of the reference's
    * pass-per-config loop, which is the difference between O(grid) and
    * O(1) scans at 100 TB.
    *
    * @param scored   rows with a probability score and a truth label
    * @param positive the label value counted as the positive class
    * @return one row per threshold: n, tp/fp/tn/fn, accuracy, precision,
    *         recall (6dp — engine-portable) */
  def thresholdGrid(scored: DataFrame, scoreCol: String, labelCol: String,
                    positive: String, thresholds: Seq[Double]): DataFrame = {
    // STRICT >, matching the production labeling rule (scoreLabeled /
    // scoredContent both use score > threshold) — a >= grid misattributes
    // boundary scores at the deployed operating point
    val pred = col("s") > col("threshold")
    val pos = col("pos")
    scored
      .select(col(scoreCol).as("s"), (col(labelCol) === positive).as("pos"),
        explode(array(thresholds.map(lit): _*)).as("threshold"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n"),
        sum(when(pred && pos, 1L).otherwise(0L)).as("tp"),
        sum(when(pred && !pos, 1L).otherwise(0L)).as("fp"),
        sum(when(!pred && !pos, 1L).otherwise(0L)).as("tn"),
        sum(when(!pred && pos, 1L).otherwise(0L)).as("fn"))
      .withColumn("accuracy",
        round((col("tp") + col("tn")).cast("double") / col("n"), 6))
      .withColumn("precision", round(col("tp").cast("double")
        / greatest(col("tp") + col("fp"), lit(1L)), 6))
      .withColumn("recall", round(col("tp").cast("double")
        / greatest(col("tp") + col("fn"), lit(1L)), 6))
  }
}
