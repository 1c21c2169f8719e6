package graft

import graft.corpus.Vocab
import graft.ml.Lsa
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** M2 — LSA tier (reference Entry 3: tfidf → TruncatedSVD → Normalizer →
  * KMeans). Two disjoint-vocabulary topics must separate cleanly in the
  * projected space regardless of SVD sign/rotation indeterminacy. */
class LsaSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // 12 docs, 2 topics with disjoint vocabularies; topic words repeat so the
  // shared-topic mass dominates each doc's rare suffix token. Topic 0
  // repeats its base 4×, topic 1 only 3× — DELIBERATE asymmetry: equal
  // masses make the top two singular values EXACTLY degenerate (the blocks
  // are orthogonal twins), and ARPACK cannot split an exactly degenerate
  // pair from one Krylov start vector — its 2nd Ritz vector then converges
  // to a suffix-contrast direction and the topic geometry is lost
  // (observed: identical code alternated between clean and mixed
  // projections with a symmetric fixture).
  private val docs = (0L until 12L).map { i =>
    val topic = (i % 2).toInt
    val base =
      if (topic == 0) Seq("spark", "catalyst", "shuffle")
      else Seq("tiger", "jungle", "river")
    val suffix = if (topic == 0) s"alpha${i % 3}" else s"beta${i % 3}"
    (i, topic, Seq.fill(if (topic == 0) 4 else 3)(base).flatten :+ suffix)
  }.toDF("doc_id", "topic", "tokens")

  /** The materialized LSA projection of `tfidf` (the frame
    * Lsa.projectModel returns next to V); the caller unpersists it. */
  private def lsaFrame(tfidf: org.apache.spark.sql.DataFrame, vocabSize: Int,
                      k: Int) =
    Lsa.projectModel(tfidf, "doc_id", "tfidf", vocabSize, k)._1

  private def projections(k: Int): Map[Long, (Int, Seq[Double])] = {
    val toks = Vocab.tokensLong(docs, "doc_id", "tokens")
    val tc = Vocab.termCounts(toks, "doc_id")
    val vocab = Vocab.buildFromCounts(tc, nDocs = 12)
    val vocabSize = vocab.count().toInt
    val tfidf = Vocab.tfidfFromCounts(tc, vocab, "doc_id", nDocs = 12)
    val proj = lsaFrame(tfidf, vocabSize, k)
    try proj.join(docs.select("doc_id", "topic"), Seq("doc_id"))
      .select("doc_id", "topic", "projection")
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getSeq[Double](2))))
      .toMap
    finally proj.unpersist()
  }

  private def cos(a: Seq[Double], b: Seq[Double]): Double =
    a.zip(b).map { case (x, y) => x * y }.sum // vectors are L2-normalized

  test("projections have dimension k and unit norm") {
    val p = projections(3)
    assert(p.values.forall(_._2.length == 3))
    p.values.foreach { case (_, v) =>
      assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1.0) < 1e-9)
    }
  }

  test("disjoint topics separate: within-topic cosine >> cross-topic") {
    val p = projections(2).values.toSeq
    val pairs = for {
      (ta, va) <- p; (tb, vb) <- p if va != vb
    } yield (ta == tb, cos(va, vb))
    val within = pairs.filter(_._1).map(_._2)
    val cross = pairs.filterNot(_._1).map(_._2)
    assert(within.min > 0.5, s"within-topic cosine too low: ${within.min}")
    assert(cross.max < 0.5, s"cross-topic cosine too high: ${cross.max}")
  }

  test("M7: PCA over the LSA space keeps 2 dims, variance ordered") {
    val toks = Vocab.tokensLong(docs, "doc_id", "tokens")
    val tc = Vocab.termCounts(toks, "doc_id")
    val vocab = Vocab.buildFromCounts(tc, nDocs = 12)
    val tfidf = Vocab.tfidfFromCounts(tc, vocab, "doc_id", nDocs = 12)
    val proj = lsaFrame(tfidf, vocab.count().toInt, k = 3)
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.functions.array_to_vector
    val feat = proj.withColumn("features",
      array_to_vector(col("projection").cast("array<double>")))
    val model = new PCA().setK(2).setInputCol("features").setOutputCol("pc")
      .fit(feat)
    val ev = model.explainedVariance.toArray
    assert(ev.length === 2)
    assert(ev(0) >= ev(1), s"PC1 must explain >= PC2: ${ev.toSeq}")
    assert(model.transform(feat).count() === 12)
    // two disjoint topics: the leading PC separates them by sign or margin
    val pcs = model.transform(feat)
      .join(docs.select("doc_id", "topic"), Seq("doc_id"))
      .select(col("topic"),
        org.apache.spark.ml.functions.vector_to_array(col("pc"))
          .getItem(0).as("pc1"))
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    val t0 = pcs.filter(_._1 == 0).map(_._2)
    val t1 = pcs.filter(_._1 == 1).map(_._2)
    assert(t0.max < t1.min || t1.max < t0.min,
      "topics must not overlap on PC1")
    proj.unpersist()
  }

  test("k-means over the LSA space recovers the two topics exactly") {
    val toks = Vocab.tokensLong(docs, "doc_id", "tokens")
    val tc = Vocab.termCounts(toks, "doc_id")
    val vocab = Vocab.buildFromCounts(tc, nDocs = 12)
    val tfidf = Vocab.tfidfFromCounts(tc, vocab, "doc_id", nDocs = 12)
    val proj = lsaFrame(tfidf, vocab.count().toInt, k = 2)
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // kmeans|| init samples BY PARTITION: pin data order so the seeded init
    // is a function of the data, not of the upstream shuffle layout
    val feat = proj.orderBy("doc_id").coalesce(1).withColumn("features",
      array_to_vector(col("projection").cast("array<double>")))
    val model = new KMeans().setK(2).setSeed(7L).setMaxIter(10)
      .setFeaturesCol("features").fit(feat)
    val assigned = model.transform(feat)
      .join(docs.select("doc_id", "topic"), Seq("doc_id"))
      .groupBy("topic", "prediction").count().collect()
    // each topic maps to exactly one cluster
    assert(assigned.length === 2,
      s"combos: ${assigned.map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq}")
    proj.unpersist()
  }
}
