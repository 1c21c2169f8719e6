package graft

import graft.scale.Scale
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Round-7 ISOLATION bench (guide §1.4) — separate from the FROZEN
  * graft.Bench harness: times each declared query through the noop sink
  * (computes every column of every row, no output cost, no optimizer
  * count-pruning) so optimization work can be measured per-operator without
  * touching the harness of record. Not part of the driver contract.
  *
  * usage: BenchExtra [sfDir] [repeats] [onlyQueryCsv]
  * prints one line per query: name cold_s warm_s (warm = best of `repeats`)
  * and a final JSON summary line prefixed BENCH_EXTRA=.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val repeats = if (args.length > 1) args(1).toInt else 2
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = Scale.configure(
      SparkSession.builder().appName("graft-bench-extra"), cpus)
      .master(s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    def noopTime(fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        System.err.println(s"[bench-extra] query failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }
    def r3(x: Double) = math.rint(x * 1000) / 1000.0
    val rows = names.map { case (name, fn) =>
      spark.sparkContext.setJobDescription(s"bench-extra: $name")
      val cold = noopTime(fn)
      // at least one warm pass; failed passes (-1 sentinel) never win `min`
      val warmRuns = (1 to math.max(repeats, 1)).map(_ => noopTime(fn))
      val ok = warmRuns.filter(_ >= 0)
      val warm = if (ok.nonEmpty) ok.min else -1.0
      println(f"$name%-28s cold=${r3(cold)}%8.3f warm=${r3(warm)}%8.3f")
      (name, cold, warm)
    }
    spark.sparkContext.setJobDescription(null)
    val js = rows.map { case (n, c, w) =>
      s""""$n":{"cold":${r3(c)},"warm":${r3(w)}}""" }.mkString("{", ",", "}")
    // totals exclude failure sentinels and say so, rather than silently
    // deflating by -1 per failed query (round-7 review finding)
    val failed = rows.filter(r => r._2 < 0 || r._3 < 0).map(_._1)
    println(s"""BENCH_EXTRA={"sf":"$sfDir","queries":$js,""" +
      s""""total_warm":${r3(rows.map(_._3).filter(_ >= 0).sum)},""" +
      s""""total_cold":${r3(rows.map(_._2).filter(_ >= 0).sum)},""" +
      s""""failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")}}""")
    SparkEntry.releaseShared(spark)
    spark.stop()
  }
}
