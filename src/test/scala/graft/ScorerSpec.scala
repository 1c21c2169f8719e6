package graft

import graft.score.Scorer
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** FIXTURES.md family 6: block scorer goldens + M12 metric aggregation. */
class ScorerSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Lexed-block stand-ins: the fields [[Scorer.scoreSql]] reads. */
  private lazy val blocks = Seq(
    ("some block text here", 4, 3, 4, 1, 0),
    ("", 0, 0, 0, 0, 0),
    ("x" * 300 + " 12 of 34", 0, 1, 4, 1, 4),
    ("home docs about", 15, 3, 3, 0, 0)
  ).toDF("text", "linkChars", "nTags", "nWords", "nStops", "nDigits")
    .select(struct(col("*")).as("v"))

  test("logistic scorer matches scalar sigmoid on known weights") {
    val w = Seq(1.0, -2.0, 0.5, 0.3, -0.7)
    val b = 0.1
    Seq((w, b), (Scorer.DefaultW, Scorer.DefaultB)).foreach { case (wi, bi) =>
      val got = blocks.select(col("v.*"), expr(Scorer.scoreSql("v", wi, bi)).as("s"))
        .collect()
      assert(got.length === 4)
      got.foreach { r =>
        val len = r.getString(0).length.toDouble
        val x = Seq(math.min(len / 256.0, 1.0),
          r.getInt(1) / math.max(len, 1.0),
          r.getInt(2) / math.max(len, 1.0),
          r.getInt(4).toDouble / math.max(r.getInt(3), 1),
          r.getInt(5) / math.max(len, 1.0))
        val z = x.zip(wi).map { case (a, c) => a * c }.sum + bi
        val want = 1.0 / (1.0 + math.exp(-z))
        assert(math.abs(r.getDouble(6) - want) < 1e-12, s"block ${r.getString(0)}")
      }
    }
  }

  test("block features stay in codegen (no UDF, no shuffle)") {
    val df = blocks.withColumn("score", expr(Scorer.scoreSql("v")))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("ScalaUDF"))
  }

  test("prfSupport computes exact per-label precision/recall/f1") {
    // labels: a a a b b ; preds: a b a b a
    val df = Seq(("a", "a"), ("a", "b"), ("a", "a"), ("b", "b"), ("b", "a"))
      .toDF("label", "pred")
    val m = Scorer.prfSupport(df, "label", "pred").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
      .toMap
    // a: tp=2, support=3, predicted=3 → p=2/3, r=2/3
    assert(m("a")._1 === 0.666667 && m("a")._2 === 0.666667 && m("a")._4 === 3L)
    // b: tp=1, support=2, predicted=2 → p=0.5, r=0.5, f1=0.5
    assert(m("b") === ((0.5, 0.5, 0.5, 2L)))
  }

  test("confusion matrix pivots counts") {
    // q24's pivot (label × predicted = vec_id % 10) over a hand-made
    // embeddings table: label 0 is predicted 0, 1, 1; label 1 is 2, 2, 3
    val dir = java.nio.file.Files.createTempDirectory("graft_q24").toString
    Seq((0L, 0), (1L, 0), (11L, 0), (2L, 1), (12L, 1), (13L, 1))
      .toDF("vec_id", "label").write.parquet(s"$dir/embeddings.parquet")
    val m = SparkEntry.queries("q24_confusion")(spark, dir).orderBy("label")
      .collect().map(r => r.getInt(0) -> (1 to 10).map(r.getLong))
    assert(m.toSeq === Seq(
      0 -> Seq(1L, 2L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L),
      1 -> Seq(0L, 0L, 2L, 1L, 0L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("M11: stratified split takes exactly ceil(3n/10) test rows per label") {
    val df = (0L until 100L).map(i => (i, (i % 3).toInt)).toDF("k", "lbl")
    val out = Scorer.stratifiedSplit(df, "lbl", "k", 3, 10)
    // label counts: 34, 33, 33 -> ceil(3n/10) = 11, 10, 10
    val perLabel = out.filter(col("is_test"))
      .groupBy("lbl").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perLabel === Map(0 -> 11L, 1 -> 10L, 2 -> 10L))
    // deterministic under repartitioning
    val out2 = Scorer.stratifiedSplit(df.repartition(7), "lbl", "k", 3, 10)
    assert(out.exceptAll(out2).count() === 0)
  }

  test("M12: accuracy column is the overall tp ratio") {
    val df = Seq(("a", "a"), ("a", "b"), ("a", "a"), ("b", "b"), ("b", "a"))
      .toDF("label", "pred")
    val acc = Scorer.prfSupport(df, "label", "pred")
      .select("accuracy").distinct().head().getDouble(0)
    assert(acc === 0.6) // 3 of 5 correct
  }

  test("M13: threshold grid evaluates every candidate in one pass") {
    // scores: positives at .9/.7/.4, negatives at .6/.2
    val df = Seq((0.9, "pos"), (0.7, "pos"), (0.4, "pos"),
        (0.6, "neg"), (0.2, "neg"))
      .toDF("score", "label")
    val grid = Scorer.thresholdGrid(df, "score", "label", "pos",
        Seq(0.3, 0.5, 0.8))
      .collect().map(r => r.getDouble(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getDouble(6), r.getDouble(7), r.getDouble(8)))).toMap
    // t=0.3: pred+ = {.9,.7,.4,.6} → tp=3 fp=1 tn=1 fn=0
    assert(grid(0.3) === ((3L, 1L, 1L, 0L, 0.8, 0.75, 1.0)))
    // t=0.5: pred+ = {.9,.7,.6} → tp=2 fp=1 tn=1 fn=1
    assert(grid(0.5) === ((2L, 1L, 1L, 1L, 0.6, 0.666667, 0.666667)))
    // t=0.8: pred+ = {.9} → tp=1 fp=0 tn=2 fn=2
    assert(grid(0.8) === ((1L, 0L, 2L, 2L, 0.6, 1.0, 0.333333)))
  }
}
