package graft.tools

import graft.core.Transcripts
import graft.scale.Scale

/** CLI: materialize a deterministic synthetic transcript corpus as parquet.
  * usage: GenCorpus <outPath> <nTurns> [turnsPerConv] [skewFactor] */
object GenCorpus {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: GenCorpus <outPath> <nTurns> [turnsPerConv] [skew]")
    val out = args(0); val n = args(1).toLong
    val tpc = if (args.length > 2) args(2).toInt else 20
    val skew = if (args.length > 3) args(3).toInt else 1
    val spark = Scale.jobSession("graft-gen-corpus")
    spark.sparkContext.setLogLevel("WARN")
    Transcripts.synthetic(spark, n, tpc, skew).drop("doc_text")
      .repartition(math.max(spark.sparkContext.defaultParallelism * 2, 16))
      .write.mode("overwrite").parquet(out)
    println(s"[gen-corpus] wrote $n turns to $out")
    spark.stop()
  }
}
