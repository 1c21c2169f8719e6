package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** M14 — label spreading over a kNN similarity graph (reference:
  * sklearn `LabelSpreading` fit over the doc-topic matrix,
  * src/label_prop.py:57-122; the kNN-kernel variant).
  *
  * Semi-supervised: a small seeded subset carries labels; every node
  * repeatedly takes the majority label of its in-neighbours, seeds stay
  * clamped (the reference's hard-clamp `alpha≈0` configuration). Each
  * iteration is ONE join (edge → current neighbour label) plus ONE
  * aggregation (per-node vote count) plus a per-node argmax — T iterations
  * = 2T bounded keyed shuffles, no driver-side adjacency and no per-node
  * loop, so the pass parallelizes like any keyed aggregation at 10^12
  * edges. Votes tie-break to the SMALLEST label (deterministic across
  * partitionings and engines).
  */
object LabelProp {

  /** @param nodes (key, label) — label null ⇔ unlabeled (to be inferred)
    * @param edges directed (src, dst, weight) kNN edge list: src receives
    *              a vote of `weight` from dst's current label. Every
    *              iteration references this frame, and lazy evaluation
    *              recomputes its lineage per reference — at scale,
    *              persist/checkpoint the edge list before calling (the
    *              fixture-sized driver query leaves it lazy)
    * @param iters propagation rounds (the fixture graphs converge in 2–3;
    *              sklearn's default max_iter=30 bounds the same loop)
    * @return (key, label) with propagated labels; nodes unreachable from
    *         any seed keep null */
  def spread(nodes: DataFrame, key: String, labelCol: String,
             edges: DataFrame, iters: Int): DataFrame = {
    val seeds = nodes.select(col(key).as("k"), col(labelCol).as("seed"))
    var cur = seeds.select(col("k"), col("seed").as("label"))
    (1 to iters).foreach { _ =>
      val votes = edges
        .select(col("src").as("k"), col("dst").as("d"), col("weight"))
        .join(cur.select(col("k").as("d"), col("label").as("nl")), Seq("d"))
        .filter(col("nl").isNotNull)
        .groupBy(col("k"), col("nl"))
        .agg(sum(col("weight")).as("w"))
      // per-node argmax as a partial-aggregable groupBy, not a rank window
      // (which would re-shuffle by k AND sort every partition):
      // min_by over the (−w, nl) struct picks the same winner — largest
      // vote weight, ties to the smallest label — with map-side partial
      // aggregation and no sort. (k, nl) rows are unique post-groupBy, so
      // the struct order is total and the winner deterministic.
      val winner = votes.groupBy(col("k"))
        .agg(min_by(col("nl"), struct(negate(col("w")), col("nl")))
          .as("vote"))
      // clamp: a seeded node never changes; unlabeled nodes adopt the vote
      cur = seeds.join(winner, Seq("k"), "left_outer")
        .select(col("k"), coalesce(col("seed"), col("vote")).as("label"))
    }
    cur.select(col("k").as(key), col("label"))
  }
}
