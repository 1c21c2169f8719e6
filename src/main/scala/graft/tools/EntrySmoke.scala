package graft.tools
import graft.scale.Scale
import org.apache.spark.sql.SparkSession
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = Scale.configure(SparkSession.builder(), cpus)
      .master(s"local[$cpus]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.entry(spark)
    println(s"[entry-smoke] rows=${df.count()} cols=${df.columns.mkString(",")}")
    spark.stop()
  }
}
