package graft

import graft.scale.Scale
import org.apache.spark.sql.SparkSession

/** One SparkSession shared by every suite in the forked test JVM, built
  * with the jobs' own session defaults. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = Scale.configure(SparkSession.builder().appName("graft-test"), 4)
      .master("local[4]")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
