package perfbench

import graft.app.{CurationJob, ExtractJob}
import graft.extract.Extract
import graft.scale.TableIO
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Order-independent fingerprint of a table: row count, xor and sum of a
  * per-row 64-bit hash over the named columns. */
final case class Fp(rows: Long, xor: Long, sum: Long)

object Fp {
  def of(df: DataFrame, cols: String*): Fp = {
    val r = df.select(xxhash64(cols.map(col): _*).as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L)),
        coalesce(sum(pmod(col("h"), lit(2147483647L))), lit(0L)))
      .collect()(0)
    Fp(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

object Files {
  private def walk(f: java.io.File): Seq[java.io.File] =
    Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap { c =>
      if (c.isDirectory) walk(c) else Seq(c)
    }

  /** Data files under `dir`: what Spark's file index would read. */
  def dataFiles(dir: String): Seq[java.io.File] =
    walk(new java.io.File(dir)).filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))

  def delete(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(path))
  }
}

/** One workload: seeded input, an untimed warm-up, and the operation the
  * closed loop times. Every operation's output is checked before its time
  * counts. */
trait Workload {
  def name: String
  def inputRows: Long
  /** snapshot bytes per written row, one entry per checked operation */
  val bytesPerRow = mutable.ArrayBuffer.empty[Double]
  protected var input: String = _

  /** Write the seeded input for set-up repetition `rep` to a fresh
    * directory (the previous repetition's is removed). */
  def generate(spark: SparkSession, c: Main.Conf, rep: Int): Unit = {
    if (input != null) Files.delete(input)
    input = s"${c.work}/input-$rep"
    Files.delete(input)
    write(spark, c, input)
  }
  protected def write(spark: SparkSession, c: Main.Conf, dir: String): Unit
  /** Fingerprint of the generated input, to prove repetitions agree. */
  def inputFp(spark: SparkSession): Fp
  /** Compute the reference the output checks compare against. */
  def reference(spark: SparkSession): Unit
  /** Run the workload's job once; its wall seconds if the output checks.
    * The job alone runs in job group `op`; the check runs outside it. */
  def timedOp(spark: SparkSession, c: Main.Conf, ledger: Ledger, op: String): Option[Double]
  /** Transcript turns for the extraction-layer probes. */
  def probeTurns(spark: SparkSession): DataFrame

  protected def inGroup[T](spark: SparkSession, op: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(op, op)
    try body finally spark.sparkContext.clearJobGroup()
  }
}

/** `ExtractJob.run` (64 buckets, 16 salts, one wave) over seeded turns. */
final class ExtractWorkload(n: Long) extends Workload {
  val name = "extract-uniform"
  val inputRows: Long = n
  private var oracle: Fp = _

  protected def write(spark: SparkSession, c: Main.Conf, dir: String): Unit =
    Gen.turns(spark, n, c.seed, parts = 4 * c.cpus).write.parquet(dir)
  def inputFp(spark: SparkSession): Fp =
    Fp.of(spark.read.parquet(input), "conv_id", "turn_idx", "role", "text", "tool", "ts")

  def reference(spark: SparkSession): Unit =
    oracle = Fp.of(Extract.pipelineComposed(spark.read.parquet(input)),
      "conv_id", "turn_idx", "text", "spans")

  def timedOp(spark: SparkSession, c: Main.Conf, ledger: Ledger, op: String): Option[Double] = {
    val table = s"${c.work}/tables/${op.replace('#', '-')}"
    val secs = ledger.run(op)(inGroup(spark, op) {
      ExtractJob.run(spark, input, table, 64, 16, c.cpus)
    }) {
      case (snap, written) =>
        val got = Fp.of(TableIO.readTable(spark, table), "conv_id", "turn_idx", "text", "spans")
        if (written != n) Some(s"wrote $written of $n rows")
        else if (got != oracle) Some(s"fingerprint $got differs from the composed pipeline's $oracle")
        else {
          bytesPerRow += Files.dataFiles(TableIO.dataDir(table, snap)).map(_.length).sum.toDouble / written
          None
        }
    }.map(_._2)
    Files.delete(table)
    secs
  }

  def probeTurns(spark: SparkSession): DataFrame = spark.read.parquet(input)
}

/** `CurationJob.run` (64 buckets, one wave, 256-token blocks) over the
  * seeded curation corpus. */
final class CurateWorkload(n: Long) extends Workload {
  val name = "curate"
  val inputRows: Long = n
  private var expected: Fp = _
  def docsPath: String = s"$input/documents.parquet"

  protected def write(spark: SparkSession, c: Main.Conf, dir: String): Unit =
    Gen.documents(spark, n, c.seed, parts = 4 * c.cpus).write.parquet(s"$dir/documents.parquet")
  def inputFp(spark: SparkSession): Fp =
    Fp.of(spark.read.parquet(docsPath), "doc_id", "text", "lang", "source", "n_chars")

  /** The first (untimed warm-up) run fixes the fingerprint every later run
    * must match. */
  def reference(spark: SparkSession): Unit = expected = null

  def timedOp(spark: SparkSession, c: Main.Conf, ledger: Ledger, op: String): Option[Double] = {
    val table = s"${c.work}/tables/${op.replace('#', '-')}"
    val secs = ledger.run(op)(inGroup(spark, op) {
      CurationJob.run(spark, docsPath, table, 64, 1, 256)
    }) {
      case (snap, written) =>
        val blocks = TableIO.readTable(spark, table)
        val got = Fp.of(blocks, "pack_id", "doc_id", "start_tok", "end_tok")
        val r = blocks.groupBy("doc_id")
          .agg(countDistinct(col("start_tok"), col("end_tok")).as("spans"))
          .agg(count(lit(1)), coalesce(max(col("spans")), lit(0L))).collect()(0)
        val (survivors, maxSpans) = (r.getLong(0), r.getLong(1))
        if (written != got.rows) Some(s"job reported $written rows, table holds ${got.rows}")
        else if (maxSpans > 1) Some("a doc_id is packed at two different spans")
        else if (survivors > n) Some(s"$survivors survivors from $n input docs")
        else if (expected != null && got != expected)
          Some(s"fingerprint $got differs from the first run's $expected")
        else {
          if (expected == null) expected = got
          bytesPerRow += Files.dataFiles(TableIO.dataDir(table, snap)).map(_.length).sum.toDouble / written
          None
        }
    }.map(_._2)
    Files.delete(table)
    secs
  }

  def probeTurns(spark: SparkSession): DataFrame =
    graft.core.Transcripts.fromDocuments(spark, input)
}

object Workloads {
  /** Input sizes. On 4 cores a curate job took about 8 s at both 1 000 and
    * 2 500 docs and 11 s at the sf0.1 table's 5 000 (its 64-bucket staged
    * writes dominate), so the corpus is sized for three checked jobs to fit
    * one run. */
  def byName(name: String): Workload = name match {
    case "extract-uniform" => new ExtractWorkload(100000L)
    case "curate" => new CurateWorkload(2000L)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
