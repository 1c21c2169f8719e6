package perfbench

import graft.SparkEntry
import graft.corpus.{Curation, Packing}
import graft.dedup.Dedup
import graft.extract.{Extract, ExtractTurnExpr}
import graft.scale.{Scale, TableIO}
import graft.textstats.TextStatsExprs
import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable

/** The traced run: per-layer metrics from a listener the benchmark
  * registers and from timed calls into each layer's public functions. */
object Layers {
  type Metrics = mutable.LinkedHashMap[String, (Double, String)]

  /** Queries left out of the suite: they stage files under a fixed /tmp
    * path, outside the directory the benchmark may write to. */
  val OutsideWorkDir = Set("q62_csv_roundtrip", "q75_binary_source", "q76_streaming_extract")
  /** Documents the curation-layer probes run over. */
  val ProbeDocs = 1000L
  /** Untraced (false) and traced (true) runs of the workload's job, in
    * this order: each kind's mean position is the same, so a steady drift
    * in job time does not read as tracing overhead. */
  val TraceOrder = Seq(false, true, true, false)
  /** Queries whose executed plan must contain the extraction kernel. */
  val KernelQueries = Seq("q30_extract", "q31_spans")

  def suite: Seq[String] = SparkEntry.queries.keys.toSeq.sorted.filterNot(OutsideWorkDir)

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def timeIt(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def traced(spark0: SparkSession, c: Main.Conf, wl: Workload, ledger: Ledger, m: Metrics,
             details: mutable.Map[String, Any], spans: Spans,
             fresh: () => SparkSession): Unit = {
    var spark = spark0
    // ---- the workload's own job without and with the listener, in the
    // order of TraceOrder; the overhead compares the medians of the two
    // kinds, and each Spark metric is the median over the traced jobs
    val listener = new GroupListener
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[(GroupStats, Double)]
    TraceOrder.zipWithIndex.foreach {
      case (false, i) =>
        plain ++= spans(s"job.${wl.name}") { wl.timedOp(spark, c, ledger, s"${wl.name}#plain$i") }
      case (true, i) =>
        val op = s"${wl.name}#traced$i"
        spark.sparkContext.addSparkListener(listener)
        val secs = spans(s"job.${wl.name}.traced") { wl.timedOp(spark, c, ledger, op) }
        Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        secs.foreach(t => traced += listener.get(op).getOrElse(new GroupStats) -> t)
    }
    if (plain.nonEmpty && traced.nonEmpty) {
      m("trace.overhead_pct") =
        ((Stats.median(traced.map(_._2).toSeq) / Stats.median(plain.toSeq) - 1) * 100, "%")
      sparkMetrics(traced.toSeq, m)
    }
    details("trace_plain_s") = plain
    details("trace_traced_s") = traced.map(_._2)

    spans("extract") { extractLayer(spark, c, wl, m, spans) }
    spans("scale") { scaleLayer(spark, c, wl, m, spans) }
    spans("curation") { curationLayer(spark, c, m, spans) }

    // ---- the query suite in one fresh session
    spark = fresh()
    spans("queries") { querySuite(spark, c, ledger, m, details, spans) }
  }

  /** Listener totals of each traced job with its wall seconds; each
    * metric is the median over the jobs. */
  private def sparkMetrics(jobs: Seq[(GroupStats, Double)], m: Metrics): Unit = {
    def med(unit: String)(f: (GroupStats, Double) => Double) =
      (Stats.median(jobs.map(f.tupled)), unit)
    m("spark.jobs") = med("count")((g, _) => g.jobs.toDouble)
    m("spark.tasks") = med("count")((g, _) => g.tasks.toDouble)
    m("spark.executor_run_s") = med("s")((g, _) => g.runMs / 1e3)
    m("spark.executor_cpu_s") = med("s")((g, _) => g.cpuNs / 1e9)
    m("spark.gc_s") = med("s")((g, _) => g.gcMs / 1e3)
    m("spark.shuffle_write_bytes") = med("B")((g, _) => g.shuffleWrite.toDouble)
    m("spark.shuffle_read_bytes") = med("B")((g, _) => g.shuffleRead.toDouble)
    m("spark.spill_bytes") = med("B")((g, _) => g.spill.toDouble)
    m("spark.input_bytes") = med("B")((g, _) => g.input.toDouble)
    m("spark.task_skew") = med("ratio")((g, _) => g.taskSkew)
    m("spark.no_job_s") = med("s")((g, secs) => g.idleMs(math.round(secs * 1e3)) / 1e3)
  }

  // ------------------------------------------------------------- extract

  /** KernelMicro's four payload shapes, with `words` as the content. */
  def shapes(words: String): Seq[(String, String, String)] = Seq(
    ("markup_nav", "user",
      s"""<nav><a href="#">home</a> <a href="#">docs</a> <a href="#">about</a></nav><div class="content"><p>$words</p></div><footer>(c) 2024 graft corp &amp; co</footer>"""),
    ("markup_aside", "assistant",
      s"""<header><h1>Results</h1></header><aside><a href="#">ad one</a> <a href="#">ad two</a></aside><div class="content"><p>$words</p></div><footer>(c) 2024 graft corp &amp; co</footer>"""),
    ("layout", "tool",
      "%PDFISH\n" + words.split(" ").grouped(8).zipWithIndex
        .map { case (ws, i) => s"10 ${(i + 1) * 10} ${ws.mkString(" ")}" }.mkString("\n")),
    ("tool_json", "user", s"""{"tool":"search","status":"ok","result":"$words"}"""))

  private def extractLayer(spark: SparkSession, c: Main.Conf, wl: Workload, m: Metrics,
                           spans: Spans): Unit = {
    val turns = wl.probeTurns(spark)
    val runs = (0 until 3).map(_ => spans("Extract.pipeline") {
      timeIt(noop(Extract.pipeline(turns))) })
    m("extract.pipeline_s") = (Stats.median(runs), "s")
    val r = new scala.util.Random(c.seed)
    val words = Seq.fill(40)(f"w${r.nextInt(65536)}%04x").mkString(" ")
    val calls = 50000
    shapes(words).foreach { case (name, role, text) =>
      val t = UTF8String.fromString(text)
      val rl = UTF8String.fromString(role)
      var sink = 0L
      val best = spans(s"ExtractTurnExpr.extractTurn.$name") {
        (0 until 3).map { _ =>
          val t0 = System.nanoTime()
          var i = 0
          while (i < calls) {
            sink += ExtractTurnExpr.extractTurn(t, rl, scored = false, w = null, b = 0,
              threshold = 0).numFields
            i += 1
          }
          System.nanoTime() - t0
        }.min
      }
      require(sink > 0)
      m(s"extract.ns_per_turn.$name") = (best.toDouble / calls, "ns")
    }
  }

  // --------------------------------------------------------------- scale

  private def scaleLayer(spark: SparkSession, c: Main.Conf, wl: Workload, m: Metrics,
                         spans: Spans): Unit = {
    val pre = s"${c.work}/pre-extracted"
    Files.delete(pre)
    Extract.pipeline(wl.probeTurns(spark)).write.parquet(pre)
    val table = s"${c.work}/tables/scale"
    Files.delete(table)
    var snap = ""
    val resolve = timeIt(spans("TableIO.resolve") {
      TableIO.currentSnapshot(spark, table)
      TableIO.snapshots(spark, table)
      snap = TableIO.nextSnapshotName(spark, table)
      TableIO.writeSidecar(spark, table, snap, "params", "nBuckets=64\nsalts=16")
      TableIO.readSidecar(spark, table, snap, "params")
    })
    val write = timeIt(spans("Scale.resumableWrite") {
      Scale.resumableWrite(spark.read.parquet(pre), TableIO.dataDir(table, snap),
        s"$table/$snap/manifest", 64, waves = 1, salts = 16)
    })
    val publish = timeIt(spans("TableIO.publish") { TableIO.publish(spark, table, snap) })
    val files = Files.dataFiles(TableIO.dataDir(table, snap))
    val perBucket = files.groupBy(_.getParentFile.getName).values.map(_.map(_.length).sum)
      .toSeq.sorted
    Files.delete(table)
    Files.delete(pre)
    m("scale.resumable_write_s") = (write, "s")
    m("scale.files_written") = (files.size.toDouble, "count")
    m("scale.write_skew") = (perBucket.last.toDouble / math.max(perBucket(perBucket.size / 2), 1L), "ratio")
    m("tableio.resolve_s") = (resolve, "s")
    m("tableio.publish_s") = (publish, "s")
  }

  // ------------------------------------------------------------ curation

  /** CurationJob's chain, one layer call at a time: each call reads a
    * persisted copy of the previous stage's output and is timed into the
    * noop sink. */
  private def curationLayer(spark: SparkSession, c: Main.Conf, m: Metrics, spans: Spans): Unit = {
    val held = mutable.ArrayBuffer.empty[DataFrame]
    def hold(df: DataFrame): DataFrame = {
      val p = df.persist(); p.count(); held += p; p
    }
    def stage(metric: String, span: String)(df: => DataFrame): DataFrame = {
      val out = df
      m(metric) = (timeIt(spans(span) { noop(out) }), "s")
      out
    }
    val docs = hold(Gen.documents(spark, ProbeDocs, c.seed, parts = 4 * c.cpus)
      .select("doc_id", "text", "lang"))
    val nIn = docs.count()
    val quality = hold(stage("textstats.quality_s", "TextStatsExprs.qualityScorePpm") {
      docs.select(col("doc_id"), col("text"), col("lang"),
        TextStatsExprs.qualityScorePpm(col("text"), graft.text.Normalize.DefaultStops)
          .as("quality_ppm")).filter(col("quality_ppm") >= 650000L)
    })
    val keepers = stage("dedup.exact_s", "Dedup.exact") {
      Dedup.exact(quality, "doc_id", "text")
    }
    val unique = hold(quality.join(keepers.filter(col("keep")).select("doc_id"), Seq("doc_id"),
      "left_semi").select(col("doc_id"), col("text"), col("lang"),
      split(col("text"), " ").as("tokens")))
    val near = stage("dedup.minhash_lsh_s", "Dedup.minhashLshMd5") {
      Dedup.minhashLshMd5(unique.select("doc_id", "tokens"), "doc_id", "tokens",
        k = 3, numHashes = 16, bands = 4)
    }
    val surv = hold(unique.join(near.filter(col("est_jaccard") >= 0.5)
      .select(col("key_b").as("doc_id")).distinct(), Seq("doc_id"), "left_anti"))
    val bench = docs.filter(col("doc_id") % 97 === 0).select(split(col("text"), " ").as("tokens"))
    val contam = stage("corpus.contaminated_s", "Curation.contaminated") {
      Curation.contaminated(surv, bench, "doc_id", "tokens", k = 4)
    }
    val clean = hold(surv.join(contam.select("doc_id"), Seq("doc_id"), "left_anti")
      .select("doc_id", "text", "lang"))
    val kept = hold(stage("corpus.sample_balanced_s", "Curation.sampleToBalanced") {
      Curation.sampleToBalanced(clean.select("doc_id", "lang"), "doc_id", "lang")
    })
    stage("corpus.pack_s", "Packing.packSpansFromCounts") {
      Packing.packSpansFromCounts(Packing.tokenCounts(
        clean.join(kept.select("doc_id"), Seq("doc_id")).select("doc_id", "text"),
        "doc_id", "text", bucketSize = 4096L), "doc_id", 256)
    }
    // every sampled clean doc is packed
    m("curate.survivor_ratio") = (kept.count().toDouble / nIn, "ratio")
    held.foreach(_.unpersist())
  }

  // ------------------------------------------------------------- queries

  /** All suite queries over the bundled sf0.001 test tables (a copy of the
    * project's smallest test scale, see TESTDATA.md) through the noop sink
    * in one fresh session: one untimed warm-up query outside the suite,
    * then each query once. A query that throws, runs no task, or (q30/q31) executes a plan without
    * the extraction kernel is a failure and gets no time. A leaf that read
    * no file is a cache read of a frame an earlier query built. */
  private def querySuite(spark: SparkSession, c: Main.Conf, ledger: Ledger, m: Metrics,
                         details: mutable.Map[String, Any], spans: Spans): Unit = {
    val dir = c.queryTables
    val listener = new GroupListener
    spark.sparkContext.addSparkListener(listener)
    val plans = mutable.ArrayBuffer.empty[String]
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = ()
    })
    // untimed warm-up: Spark's first-use cost lands here, not on a leaf
    noop(spark.read.parquet(s"$dir/lineitem.parquet").groupBy("l_returnflag")
      .agg(sum("l_quantity")))
    val cold = mutable.LinkedHashMap.empty[String, Double]
    val rows = mutable.LinkedHashMap.empty[String, Long]
    suite.foreach { q =>
      spark.sparkContext.setJobGroup(q, q)
      val obs = Observation(s"rows_$q")
      ledger.run(s"query.$q") {
        spans(s"SparkEntry.queries.$q") {
          noop(SparkEntry.queries(q)(spark, dir).observe(obs, count(lit(1)).as("n")))
        }
        obs.get("n").asInstanceOf[Long]
      } { n =>
        Bus.drain(spark.sparkContext)
        if (listener.get(q).forall(_.tasks == 0)) Some("ran no task")
        else if (KernelQueries.contains(q) &&
                 !plans.synchronized(plans.lastOption).exists(_.contains("extract_turn")))
          Some("executed plan lacks the extract_turn kernel")
        else { rows(q) = n; None }
      }.foreach { case (_, secs) => cold(q) = secs }
      spark.sparkContext.clearJobGroup()
    }
    spark.sparkContext.removeSparkListener(listener)
    suite.foreach(q => m(s"query.$q.cold_s") = (cold.getOrElse(q, Double.NaN), "s"))
    m("query.cold_suite_s") = (cold.values.sum, "s")
    val cacheReads = cold.keys.filter(q => listener.get(q).forall(_.input == 0L)).toSeq
    m("query.cache_reads") = (cacheReads.size.toDouble, "count")
    details("query_cache_reads") = cacheReads
    details("query_rows") = rows
    SparkEntry.releaseShared(spark)
  }
}
