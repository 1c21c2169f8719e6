package graft.ml

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** THE relational sparse-vector assembly shared by the LSA and LDA tiers
  * (one copy, so a fix cannot silently miss one of them). groupBy + sort_array(collect_list(struct))
  * runs as an ObjectHashAggregate with map-side partial aggregation, so the
  * shuffle carries one pre-grouped buffer per (partition, doc) instead of
  * one ungrouped record per (token, value) pair — an RDD groupByKey
  * spelling's ungrouped shuffle and per-key array build are the q44
  * bottleneck and the scale-killer at 10^12 turns.
  * Callers map the grouped pairs to their vector type (mllib sparse for the
  * distributed SVD, ml sparse for LDA). */
private[ml] object SparseAssembly {

  /** (docKey, token_id, valueCol) long form → one (doc, sorted (index,
    * value) pairs) row per doc. */
  def grouped(df: DataFrame, docKey: String,
              valueCol: String): Dataset[(Long, Seq[(Int, Double)])] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(docKey).cast("long").as("k"),
        struct(col("token_id").cast("int").as("i"),
          col(valueCol).cast("double").as("v")).as("p"))
      .groupBy(col("k"))
      .agg(sort_array(collect_list(col("p"))).as("ps"))
      .as[(Long, Seq[(Int, Double)])]
  }
}
