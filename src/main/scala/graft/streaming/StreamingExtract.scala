package graft.streaming

import graft.core.Turn
import graft.extract.Extract
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming variant of the extraction kernel. The reference is batch-only
  * (SURVEY.md §2.9: no streaming anywhere), and the north_rule's acceptance
  * path is batch Iceberg → batch Iceberg — this module is the beyond-the-
  * reference tier: because E1–E6 are stateless per-turn transforms, the
  * SAME pipeline object runs under Structured Streaming unchanged; only the
  * source/sink bindings differ. Per-conversation ordering is by explicit
  * key, never by arrival order.
  */
object StreamingExtract {

  /** File-stream source → extraction kernel. Caller binds the sink. */
  def fromParquetDir(spark: SparkSession, dir: String): DataFrame =
    Extract.pipeline(
      spark.readStream.schema(Turn.schema).parquet(dir))
}
