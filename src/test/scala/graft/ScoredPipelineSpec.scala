package graft

import graft.core.Transcripts
import graft.extract.Extract
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** E4 in the loop (north_star: "lightweight neural block classifier …
  * applied partition-parallel to label content vs. chrome"). */
class ScoredPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("scored pipeline agrees with the rule pipeline on the fixture corpus") {
    val turns = Transcripts.synthetic(spark, 400, 10).drop("doc_text")
    val rules = Extract.pipeline(turns).select("conv_id", "turn_idx", "text")
    val scored = Extract.scoredPipeline(turns).select("conv_id", "turn_idx", "text")
    assert(rules.exceptAll(scored).count() === 0)
    assert(scored.exceptAll(rules).count() === 0)
  }

  test("scorer rejects digit-junk blocks that pass the structural rules") {
    val junk = "00 11 22 33 44 55 66 77 88 99 00 11 22 33 44 55"
    val rows = Seq(
      ("c1", 0, "user", s"<div><p>real textual content with the usual words</p><p>$junk</p></div>",
       null.asInstanceOf[String], java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val rules = Extract.pipeline(rows).select("text").as[String].head()
    val scored = Extract.scoredPipeline(rows).select("text").as[String].head()
    assert(rules.contains(junk), "rule tier keeps the junk block")
    assert(!scored.contains(junk), "scorer drops the digit-junk block")
    assert(scored.contains("real textual content"))
  }

  test("scores are exposed per block and stay in (0,1)") {
    val turns = Transcripts.synthetic(spark, 50, 10).drop("doc_text")
    val blocks = Extract.scoreLabeled(Extract.lexed(turns))
      .select(explode(col("blocks")).as("b"))
      .select(col("b.score").as("score"))
    val stats = blocks.agg(min("score"), max("score")).head()
    assert(stats.getDouble(0) > 0.0 && stats.getDouble(1) < 1.0)
  }
}
