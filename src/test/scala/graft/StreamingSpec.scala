package graft

import graft.core.Transcripts
import graft.extract.Extract
import graft.streaming.StreamingExtract
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Streaming tier: the stateless extraction kernel must produce EXACTLY the
  * batch result when driven through Structured Streaming (same input, same
  * keys, same text) — per-turn equality is engine-mode invariant. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("streamed extraction equals batch extraction row-for-row") {
    val tmp = Files.createTempDirectory("graft_stream").toString
    val turns = Transcripts.synthetic(spark, 300, 10).drop("doc_text")
    turns.write.mode("overwrite").parquet(s"$tmp/in")

    val q = StreamingExtract.fromParquetDir(spark, s"$tmp/in")
      .writeStream.format("memory").queryName("stream_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.table("stream_out").select("conv_id", "turn_idx", "text")
    val batch = Extract.pipeline(spark.read.parquet(s"$tmp/in"))
      .select("conv_id", "turn_idx", "text")
    assert(streamed.count() === 300)
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("streaming quarantine equals batch quarantine (zero-content turns)") {
    val tmp = Files.createTempDirectory("graft_stream_quar").toString
    import spark.implicits._
    val chromeOnly = Seq(
      ("q0001", 0, "user", """<nav><a href="#">home</a></nav>""", null: String),
      ("q0001", 1, "user", """<footer>only chrome</footer>""", null: String),
      ("q0002", 0, "assistant", """<aside><a href="#">ad</a></aside>""", null: String))
      .toDF("conv_id", "turn_idx", "role", "text", "tool")
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    Transcripts.synthetic(spark, 100, 10).drop("doc_text")
      .unionByName(chromeOnly)
      .write.mode("overwrite").parquet(s"$tmp/in")

    val q = StreamingExtract.quarantineStream(spark, s"$tmp/in")
      .writeStream.format("memory").queryName("quarantine_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.table("quarantine_out")
    val batch = Extract.quarantine(spark.read.parquet(s"$tmp/in"))
    assert(streamed.count() === 3) // exactly the chrome-only turns
    assert(streamed.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(streamed).count() === 0)
  }

  test("streaming exact dedup: one representative per digest, batch-equal digest set") {
    val tmp = Files.createTempDirectory("graft_stream_dedup").toString
    import spark.implicits._
    // 60 turns over 20 distinct payloads (3 copies each) — and the copies
    // vary in CASE and internal whitespace, which the shared
    // Dedup.fingerprint normalization must collapse exactly like the batch
    // exact-dedup keeper (round-3 review: the stream hashed raw text)
    val rows = (0 until 60).map { i =>
      val base = s"duplicate payload number ${i % 20}"
      val variant = (i / 20) match {
        case 0 => base
        case 1 => base.toUpperCase
        case _ => base.replace(" ", "  ")
      }
      (f"d${i % 7}%04d", i, "user", variant, null.asInstanceOf[String],
        java.sql.Timestamp.valueOf(f"2024-01-01 00:${i % 60}%02d:00"))
    }
    rows.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
      .write.mode("overwrite").parquet(s"$tmp/in")

    val q = StreamingExtract.dedupStream(spark, s"$tmp/in")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.table("dedup_out")
    assert(streamed.count() === 20) // one representative per normalized payload
    assert(streamed.select("digest").distinct().count() === 20)
    // digest set equals the batch exact-dedup keepers over the same corpus
    val batchDigests = graft.dedup.Dedup.exact(
        Extract.pipeline(spark.read.parquet(s"$tmp/in"))
          .filter(col("text") =!= lit(""))
          .withColumn("key", concat(col("conv_id"), lit(":"), col("turn_idx"))),
        "key", "text")
      .filter(col("keep")).select(col("fingerprint").as("digest"))
    assert(streamed.select("digest").exceptAll(batchDigests).count() === 0)
    assert(batchDigests.exceptAll(streamed.select("digest")).count() === 0)
  }

  test("windowed extraction-rate aggregation with watermark runs") {
    val tmp = Files.createTempDirectory("graft_stream_rate").toString
    Transcripts.synthetic(spark, 200, 10).drop("doc_text")
      .write.mode("overwrite").parquet(s"$tmp/in")
    val q = StreamingExtract.extractionRate(spark, s"$tmp/in")
      .writeStream.format("memory").queryName("rate_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val rows = spark.table("rate_out")
    assert(rows.agg(sum("turns")).head().getLong(0) === 200L)
  }

  test("q76 re-stages its input when documents.parquet is rewritten in place") {
    import java.nio.file.StandardCopyOption
    val sf = Files.createTempDirectory("graft_q76_sf")
    // n documents as ONE parquet file at the same path each time
    def writeDocs(n: Int): Unit = {
      val part = Files.createTempDirectory("graft_q76_part").resolve("out")
      spark.range(n).select(col("id").as("doc_id"),
          concat(lit("plain prose about document "), col("id").cast("string"))
            .as("text"))
        .coalesce(1).write.parquet(part.toString)
      val file = Files.list(part).filter(_.toString.endsWith(".parquet"))
        .findFirst().get
      Files.move(file, sf.resolve("documents.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      ()
    }
    def q76() = SparkEntry.queries("q76_streaming_extract")(spark, sf.toString)
      .count()
    writeDocs(300)
    assert(q76() === 300L)
    writeDocs(100)
    assert(q76() === 100L)
  }
}
