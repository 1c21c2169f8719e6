package graft.tools

import graft.SparkEntry
import graft.scale.Scale
import java.nio.file.{Files, Paths}

/** Plan snapshotter: dumps `.explain("formatted")` for EVERY declared
  * query to `plans/<tag>/<query>_<suffix>.txt` — the before/after plan
  * artifacts an optimization change commits, against which its plan claims
  * are checked.
  *
  * usage: ExplainAll <suffix> [sfDir] [tag] [onlyQueryCsv]
  *   suffix — "before" | "after"
  *   sfDir  — defaults to /root/testdata/sf0.01
  *   tag    — output subdir under plans/, defaults to r07
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val suffix = args.headOption.getOrElse("before")
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val tag = if (args.length > 2) args(2) else "r07"
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").toSet) else None
    val spark = Scale.jobSession("graft-explain-all")
    spark.sparkContext.setLogLevel("ERROR")
    val outDir = Paths.get(s"plans/$tag")
    Files.createDirectories(outDir)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    names.foreach { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
        println(s"[explain-all] $name ok")
      } catch { case e: Throwable =>
        Files.writeString(outDir.resolve(s"${name}_$suffix.txt"),
          s"PLAN UNAVAILABLE: ${e.getClass.getName}: ${e.getMessage}\n")
        println(s"[explain-all] $name FAILED: ${e.getMessage}")
      }
    }
    SparkEntry.releaseShared(spark)
    spark.stop()
  }
}
