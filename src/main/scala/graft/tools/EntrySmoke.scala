package graft.tools
import graft.scale.Scale
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Scale.jobSession("graft-entry-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.entry(spark)
    println(s"[entry-smoke] rows=${df.count()} cols=${df.columns.mkString(",")}")
    spark.stop()
  }
}
