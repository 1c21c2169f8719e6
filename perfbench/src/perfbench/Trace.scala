package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Task-metric totals for one job group. */
final class GroupStats {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  /** stage id → task run times (ms), for the skew of the largest stage */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  /** (start, end) wall-clock ms of each job */
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  /** max over median task time in the stage with the most task time */
  def taskSkew: Double =
    if (stageTasks.isEmpty) 1.0
    else {
      val ts = stageTasks.values.maxBy(_.sum).sorted
      val med = math.max(ts(ts.size / 2), 1L)
      ts.last.toDouble / med
    }

  /** Milliseconds of the group's `wallMs` wall window (the operation's
    * call to its return) during which none of its jobs ran. */
  def idleMs(wallMs: Long): Long = {
    var covered = 0L
    var reach = Long.MinValue
    jobSpans.sortBy(_._1).foreach { case (s, e) =>
      if (e > reach) { covered += e - math.max(s, reach); reach = e }
    }
    math.max(0L, wallMs - covered)
  }
}

/** Aggregates task metrics per job group (`SparkContext.setJobGroup`).
  * Registered from outside the program: nothing in graft knows of it. */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  val groups = mutable.LinkedHashMap.empty[String, GroupStats]

  private def group(name: String) = groups.getOrElseUpdate(name, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("(none)")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageGroup(_) = g)
    val st = group(g)
    st.jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (g <- jobGroup.remove(e.jobId); s <- jobStart.remove(e.jobId))
      group(g).jobSpans += ((s, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val g = group(stageGroup.getOrElse(e.stageId, "(none)"))
      g.tasks += 1
      g.runMs += m.executorRunTime
      g.cpuNs += m.executorCpuTime
      g.gcMs += m.jvmGCTime
      g.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      g.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      g.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      g.input += m.inputMetrics.bytesRead
      g.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  def get(name: String): Option[GroupStats] = synchronized(groups.get(name))
}

/** A timed call into one layer; `parent` names the enclosing span. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
                      ok: Boolean)

/** In-memory span log, written out once when the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var next = 1

  def apply[T](name: String)(body: => T): T = {
    val id = next; next += 1
    val parent = stack.head
    stack = id :: stack
    val t0 = System.nanoTime()
    var ok = false
    try { val r = body; ok = true; r }
    finally {
      stack = stack.tail
      val t1 = System.nanoTime()
      buf += Span(id, parent, name, t0, t1, ok)
      System.err.println(f"[perfbench] span $name%-50s ${(t1 - t0) / 1e9}%8.3f s")
    }
  }

  def all: Seq[Span] = buf.toSeq
}
