package graft.ml

import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
import org.apache.spark.mllib.linalg.distributed.RowMatrix
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** M2 — LSA/TruncatedSVD tier completing reference Entry 3 parity:
  * tfidf → TruncatedSVD(k) → L2 Normalizer → (KMeans downstream)
  * (reference: modules/k_means_approach.py:18-23 — TfidfVectorizer,
  * TruncatedSVD, Normalizer, MiniBatchKMeans).
  *
  * The truncated SVD is MLlib's distributed `RowMatrix.computeSVD` (ARPACK
  * on the driver over a distributed Gram-vector product) — the engine's ONE
  * RDD-based stage, used because Spark ML has no DataFrame-native
  * distributed truncated SVD; everything around it stays relational.
  *
  * Scale shape: the corpus never leaves the cluster — only V (vocab × k,
  * small because the vocab is keepN-capped) lands on the driver and ships
  * back as a broadcast; the per-doc projection is a narrow map. */
object Lsa {

  /** Long-form (docKey, token_id, value) → (docKey, projection: array[k]),
    * L2-normalized, plus the fitted right-singular-vector matrix V
    * (vocabSize × kEff) the projection is `tfidf · V` of. `vocabSize` =
    * dictionary size (ids are 0-based dense by Vocab.buildFromCounts'
    * construction).
    *
    * Exposing V is what makes the projection CROSS-ENGINE VERIFIABLE even
    * though the ARPACK fit is not: an oracle holding V and the tfidf long
    * form can replay every projected value (the q40/q50/q52
    * self-consistency pattern applied to the linear algebra downstream
    * consumers read). V is local by the same scale argument as the
    * broadcast: vocab is keepN-capped.
    *
    * The projection frame is persisted and computed before the call
    * returns, and the internal sparse-vector RDD cache is released at once
    * — the returned frame no longer depends on it, so a long-lived session
    * holds one docs×k cache instead of a corpus-sized vector RDD. The
    * caller owns the returned frame and unpersists it when done. */
  def projectModel(tfidf: DataFrame, docKey: String, valueCol: String,
                   vocabSize: Int, k: Int)
      : (DataFrame, org.apache.spark.mllib.linalg.Matrix) = {
    val spark = tfidf.sparkSession
    import spark.implicits._
    require(k <= vocabSize, s"k=$k exceeds vocabSize=$vocabSize")
    // Relational assembly via SparseAssembly.grouped (partial-agg
    // shuffle); the RDD hop is only the final mllib-vector construction
    // RowMatrix needs.
    val docVecs = SparseAssembly.grouped(tfidf, docKey, valueCol)
      .rdd
      .map { case (doc, ps) =>
        (doc, OldVectors.sparse(vocabSize, ps.map(_._1).toArray,
          ps.map(_._2).toArray))
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    // computeSVD is an action — it materializes the persisted docVecs,
    // which the projection map below re-reads from cache until the
    // projection itself is materialized.
    val svd = new RowMatrix(docVecs.values).computeSVD(k, computeU = false)
    // ARPACK may converge fewer than k singular vectors on a corpus whose
    // numerical rank is below k — V is never indexed past its real column
    // count. Dimensions beyond the rank stay zero in the (still k-sized)
    // projection.
    val kEff = math.min(k, svd.V.numCols)
    val vb = spark.sparkContext.broadcast(svd.V)
    val out = docVecs.map { case (doc, vec) =>
      val v = vb.value
      val proj = new Array[Double](k)
      vec.foreachActive { (i, x) =>
        var j = 0
        while (j < kEff) { proj(j) += x * v(i, j); j += 1 }
      }
      val n = math.sqrt(proj.map(p => p * p).sum)
      (doc, if (n == 0.0) proj.toSeq else proj.map(_ / n).toSeq)
    }.toDF(docKey, "projection")
    val frame = out.persist(StorageLevel.MEMORY_AND_DISK)
    frame.count()
    docVecs.unpersist()
    (frame, svd.V)
  }
}
