package graft

import graft.scale.Scale
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** What `body` returns, and the number of Spark jobs started while it
    * ran. The listener bus is drained before the count starts and before
    * it is read, so the count holds exactly the jobs `body` started. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      val result = body
      ListenerBusDrain.drain(sc)
      (result, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** What a kill between a job's write and `TableIO.publish` leaves of a
    * published `snap`: no pointer and no file manifest. */
  def unpublish(table: String, snap: String): Unit =
    Seq(s"$table/_CURRENT", s"$table/$snap/files.list").foreach { p =>
      assert(new java.io.File(p).delete(), p)
    }

  /** Path -> mtime of every file under `dir`, at any depth. */
  def mtimesUnder(dir: java.io.File): Map[String, Long] =
    dir.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) mtimesUnder(f) else Map(f.getPath -> f.lastModified)
    }.toMap
}
