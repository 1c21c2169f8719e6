package perfbench

import graft.scale.Scale
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark run in one JVM: a single client runs one workload's
  * operation in a closed loop (the next job starts when the previous one
  * has returned and been checked) on `local[cpus]`.
  *
  * usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <resultJson> <cpus>
  *        <queryTablesDir>
  *
  * Untraced (trace 0) it reports the end-to-end metrics. Traced (trace 1)
  * it runs the workload's operation alternately without and with a
  * task-metric listener, then times each layer's public functions directly
  * and runs the query suite, and reports the per-layer metrics. */
object Main {
  /** Set-up repetitions in an untraced run; setup_s is their median. */
  val SetupReps = 3
  /** Untimed warm-up: at least one job, and jobs until this much time.
    * That takes the JIT and code-generation ramp past its steep part; what
    * is left of it shows as a slower first timed job, which the median of
    * the timed jobs passes over. */
  val WarmupSeconds = 12.0
  /** Timed jobs in an untraced run: at least this many, and jobs until
    * their seconds reach the run length. */
  val MinTimedOps = 3

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, cpus: Int, queryTables: String)

  def session(c: Conf): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = Scale.configure(SparkSession.builder().appName(s"perfbench-${c.workload}"), c.cpus)
      .master(s"local[${c.cpus}]")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 8,
      "usage: perfbench.Main <workload> <seed> <seconds> <trace> <work> <out> <cpus> <queryTables>")
    val c = Conf(args(0), args(1).toLong, args(2).toDouble, args(3) == "1", args(4), args(6).toInt,
      args(7))
    val out = args(5)
    val wl = Workloads.byName(c.workload)
    val ledger = new Ledger
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val details = mutable.LinkedHashMap.empty[String, Any]
    val spans = new Spans
    var spark: SparkSession = null
    val fresh = () => { if (spark != null) spark.stop(); spark = session(c); spark }

    // ---- set-up, repeated: session start and input generation. Every
    // repetition must produce the same input.
    val reps = if (c.trace) 1 else SetupReps
    val inputs = mutable.ArrayBuffer.empty[Fp]
    val setupSecs = (1 to reps).map { r =>
      val t0 = System.nanoTime()
      spans("setup") {
        spans("session") { fresh() }
        spans("generate") { wl.generate(spark, c, r) }
      }
      val secs = (System.nanoTime() - t0) / 1e9
      inputs += wl.inputFp(spark)
      secs
    }
    if (inputs.distinct.size > 1)
      ledger.run("setup")(inputs.distinct)(fps => Some(s"repetitions generated different inputs: $fps"))
    details("setup_reps_s") = setupSecs
    details("input_rows") = wl.inputRows
    // ---- reference output, then untimed warm-up jobs until the job has
    // run for WarmupSeconds, so timed jobs start past the JIT ramp
    spans("reference") { wl.reference(spark) }
    val warm0 = System.nanoTime()
    spans("warmup") {
      do wl.timedOp(spark, c, ledger, s"warmup#${ledger.attempted}")
      while (ledger.failed.isEmpty && (System.nanoTime() - warm0) / 1e9 < WarmupSeconds)
    }
    details("warmup_s") = (System.nanoTime() - warm0) / 1e9

    if (!c.trace) {
      // ---- timed closed loop: at least MinTimedOps jobs, and jobs until
      // their timed seconds reach the run length (output checks between
      // jobs are not counted); the loop stops at the first failure
      val secs = mutable.ArrayBuffer.empty[Double]
      while ((secs.size < MinTimedOps || secs.sum < c.seconds) && ledger.failed.isEmpty)
        secs ++= wl.timedOp(spark, c, ledger, s"${wl.name}#${ledger.attempted}")
      details("op_s") = secs
      if (secs.nonEmpty) {
        metrics("rows_per_s") = (wl.inputRows / Stats.median(secs.toSeq), "rows/s")
        metrics("table_bytes_per_row") = (Stats.median(wl.bytesPerRow.toSeq), "B/row")
      }
      metrics("setup_s") = (Stats.median(setupSecs), "s")
    } else {
      Layers.traced(spark, c, wl, ledger, metrics, details, spans, fresh)
    }
    if (spark != null) spark.stop()
    if (c.trace) metrics("jvm.peak_rss_mb") = (peakRssMb, "MB")

    details("spans") = spans.all
    val failedNames = ledger.failed.map { case (n, why) => Map("op" -> n, "reason" -> why) }
    val json = Json(mutable.LinkedHashMap[String, Any](
      "correct" -> ledger.failed.isEmpty,
      "attempted" -> ledger.attempted,
      "failed" -> ledger.failed.size,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "failures" -> failedNames,
      "details" -> details,
      "java" -> System.getProperty("java.version"),
      "spark" -> org.apache.spark.SPARK_VERSION))
    java.nio.file.Files.write(java.nio.file.Paths.get(out), json.getBytes("UTF-8"))
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}
