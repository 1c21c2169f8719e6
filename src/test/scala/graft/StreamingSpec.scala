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
