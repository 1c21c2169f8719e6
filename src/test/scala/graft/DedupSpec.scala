package graft

import graft.dedup.Dedup
import graft.scale.Scale
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again today"),
    (1L, "the quick brown fox jumps over the lazy dog again and again today"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat again and again today"), // near dup of 0
    (3L, "completely different content about spark catalyst optimizer rules engine")
  ).toDF("doc_id", "text")
    .withColumn("tokens", split(col("text"), " "))

  /** Runs `call`, checks it returned a materialized frame and left at most
    * one new persisted RDD (that frame's own checkpoint), hands the result
    * to `use`, then frees it and checks that nothing the call persisted is
    * left. */
  private def freedAfter[T](call: => org.apache.spark.sql.DataFrame)(
      use: org.apache.spark.sql.DataFrame => T): T = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = call
    assert(out.queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      "the returned frame is not materialized")
    val kept = sc.getPersistentRDDs -- before
    assert(kept.size <= 1, s"left persisted: ${kept.values.mkString(", ")}")
    val got = use(out)
    Scale.unpersistCheckpoint(out)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    got
  }

  test("exact dedup keeps the smallest key per fingerprint group") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(out(0L) === true)
    assert(out(1L) === false) // dup of 0, larger key
    assert(out(2L) === true)
    assert(out(3L) === true)
  }

  test("native shingles ≡ composed spelling on edge shapes") {
    import org.apache.spark.sql.functions._
    val edge = Seq(
      Seq("a", "b", "c", "d", "e"),
      Seq("a"),            // n < k: one truncated shingle
      Seq("a", "b", "c"),  // n == k
      Seq.empty[String],   // empty: one "" shingle (composed semantics)
      Seq("x", "", "y", "z")).toDF("tokens")
    (1 to 4).foreach { k =>
      val got = edge.select(
        Dedup.shingles(col("tokens"), k).as("n"),
        Dedup.shinglesComposed(col("tokens"), k).as("c")).collect()
      got.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"k=$k: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}")
      }
    }
  }

  test("ngram jaccard finds the near-dup pair, not the unrelated one") {
    val pairs = freedAfter(
      Dedup.ngramJaccard(docs, "doc_id", "tokens", k = 3, threshold = 0.5))(
      _.select("key_a", "key_b").as[(Long, Long)].collect().toSet)
    assert(pairs.contains((0L, 1L))) // identical
    assert(pairs.contains((0L, 2L))) // one-word change
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("minhash: identical docs estimate jaccard 1.0; near dup caught with narrow bands") {
    // true jaccard(0,2) ≈ 8/14 ≈ 0.57 → per-band collision 0.57^rows; use
    // 8 bands × 2 rows so detection probability is ~96% (deterministic here
    // since the hash family is fixed).
    val out = Dedup.minhashLshMd5(docs, "doc_id", "tokens", k = 3, numHashes = 16, bands = 8)
    val m = out.select("key_a", "key_b", "est_jaccard")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(m((0L, 1L)) === 1.0)
    assert(m.getOrElse((0L, 2L), 0.0) > 0.3) // near dup lands in ≥1 shared band
    assert(!m.keySet.exists { case (a, b) => a == 3L || b == 3L } ||
      m.filter { case ((a, b), _) => a == 3L || b == 3L }.values.forall(_ < 0.3))
  }

  test("simhash: identical docs at hamming 0, near dups within threshold") {
    // radius 12 needs > 12 bands for the pigeonhole guarantee (32-bit sig,
    // 16 bands of 2 bits)
    val out = Dedup.simhashDupMd5(docs, "doc_id", "tokens", maxHamming = 12, bands = 16)
      .select("key_a", "key_b", "hamming").as[(Long, Long, Int)].collect()
      .map { case (a, b, h) => (a, b) -> h }.toMap
    assert(out((0L, 1L)) === 0)
    assert(out.get((0L, 2L)).exists(_ <= 12))
  }

  test("simhash banded join equals the exact all-pairs scan at radius < bands") {
    // pigeonhole recall property: for maxHamming < bands the bucketed join
    // must find EXACTLY the pairs an all-pairs Hamming scan finds
    val corpus = (0L until 40L).map { i =>
      // 13 token slots; vary a couple of slots per doc so pair distances
      // spread across the radius boundary
      val toks = (0 until 13).map { j =>
        if ((i + j) % 7 == 0) s"alt${(i + j) % 5}" else s"base$j"
      }
      (i, toks.mkString(" "))
    }.toDF("doc_id", "text").withColumn("tokens", split(col("text"), " "))
    for (radius <- Seq(2, 3)) {
      val banded = Dedup.simhashDupMd5(corpus, "doc_id", "tokens",
        maxHamming = radius, bands = 4)
        .select("key_a", "key_b").as[(Long, Long)].collect().toSet
      val sig = corpus.select(col("doc_id").as("k"),
        Dedup.simhash32Md5(col("tokens")).as("sh"))
      val exact = sig.as("a").join(sig.as("b"), col("a.k") < col("b.k"))
        .withColumn("hamming", bit_count(col("a.sh").bitwiseXOR(col("b.sh"))))
        .filter(col("hamming") <= radius)
        .select(col("a.k"), col("b.k")).as[(Long, Long)].collect().toSet
      assert(banded === exact, s"radius $radius: banded != exact")
    }
  }

  test("simhashDup rejects a radius the banding cannot guarantee") {
    intercept[IllegalArgumentException] {
      Dedup.simhashDupMd5(docs, "doc_id", "tokens", maxHamming = 16, bands = 4)
    }
  }

  test("ngram jaccard df-cap drops hot-shingle candidate floods") {
    // every doc shares the same 3-token prefix -> one shingle with df = n;
    // uncapped, that stop-shingle alone creates O(n^2) candidate pairs
    val hot = (0L until 12L).map { i =>
      (i, s"common stop prefix unique${i}a unique${i}b unique${i}c unique${i}d")
    }.toDF("doc_id", "text").withColumn("tokens", split(col("text"), " "))
    val uncapped = freedAfter(Dedup.ngramJaccard(hot, "doc_id", "tokens",
      k = 3, threshold = 0.0))(_.count())
    // all 66 pairs are candidates through the hot shingle
    assert(uncapped === 66)
    val capped = freedAfter(Dedup.ngramJaccard(hot, "doc_id", "tokens",
      k = 3, threshold = 0.0, maxShingleDf = 5))(_.count())
    // the df-12 stop-shingle is excluded from the comparison space, so no
    // pair shares any shingle at all
    assert(capped === 0)
  }

  test("minhash LSH hot-bucket cap drops degenerate giant buckets") {
    // 10 identical docs all collapse into one bucket per band (100 candidate
    // rows per band uncapped); cap 5 drops those buckets entirely
    val same = (0L until 10L).map(i => (i, "the exact same boilerplate text repeated verbatim"))
      .toDF("doc_id", "text").withColumn("tokens", split(col("text"), " "))
    val uncapped = Dedup.minhashLshMd5(same, "doc_id", "tokens", k = 3,
      numHashes = 16, bands = 4)
    assert(uncapped.count() === 45) // all C(10,2) pairs
    val capped = Dedup.minhashLshMd5(same, "doc_id", "tokens", k = 3,
      numHashes = 16, bands = 4, maxBucket = 5)
    assert(capped.count() === 0)
  }

  test("embedding cosine near-dup") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Dedup.embeddingDup(vecs, "vec_id", "embedding", 0.9)
      .select("key_a", "key_b").as[(Long, Long)].collect().toSet
    assert(out === Set((0L, 1L)))
  }

  test("native minhash_fold is identical to the composed HOF spelling") {
    // arbitrary long hash arrays incl. boundary values and an empty row
    val rows = (0L until 100L).map { i =>
      val r = new scala.util.Random(i)
      (i, Seq.fill(1 + r.nextInt(40))(math.abs(r.nextLong()) % 2147483647L))
    } :+ (100L, Seq.empty[Long])
    val df = rows.toDF("id", "hs")
    val diff = df.select(
        graft.dedup.MinhashFoldExpr.minhashFold(col("hs"), 16).as("native"),
        Dedup.minhashFromHashesComposed(col("hs"), 16).as("hof"))
      .filter(!(col("native") <=> col("hof"))).count()
    assert(diff === 0)
    // end-to-end signatures over real token arrays
    val docs = Seq(
      (0L, Seq("the", "quick", "brown", "fox", "jumps")),
      (1L, Seq("a")), (2L, Seq("lorem", "ipsum", "dolor", "sit", "amet", "sed")))
      .toDF("doc_id", "tokens")
    val out = docs.select(Dedup.minhashSignatureMd5(col("tokens"), 3, 8).as("s"))
      .collect()
    assert(out.forall(_.getSeq[Long](0).length == 8))
    assert(out.forall(_.getSeq[Long](0).forall(v => v >= 0 && v < 2147483647L)))
  }

  test("native simhash_fold is identical to the composed HOF spelling") {
    // arbitrary long hashes incl. negatives (bit 63) and an empty row
    val rows = (0L until 100L).map { i =>
      val r = new scala.util.Random(i + 7)
      (i, Seq.fill(1 + r.nextInt(30))(r.nextLong()))
    } :+ (100L, Seq.empty[Long])
    val df = rows.toDF("id", "hs")
    Seq(64, 32).foreach { bits =>
      val diff = df.select(
          graft.dedup.SimhashFoldExpr.simhashFold(col("hs"), bits).as("native"),
          Dedup.simhashFromHashesComposed(col("hs"), bits).as("hof"))
        .filter(!(col("native") <=> col("hof"))).count()
      assert(diff === 0, s"mismatch at bits=$bits")
    }
  }

  test("embeddingDupLsh: LSH pairs are a same-bucket subset of all-pairs") {
    // deterministic gaussian 16-dim vectors (well-mixed — a linear pseudo-
    // noise formula here produced accidental near-dups); i+100 is a small
    // perturbation of i, the planted near-dup pair
    def vec(i: Long, eps: Float): Array[Float] = {
      val r = new scala.util.Random(i)
      val v = Array.fill(16)(r.nextGaussian().toFloat)
      v(0) += eps
      v
    }
    val rows = (0L until 40L).map(i => (i, vec(i, 0f))) ++
      (0L until 40L).map(i => (i + 100L, vec(i, 0.05f)))
    val vecs = rows.toDF("vec_id", "embedding")
    val all = Dedup.embeddingDup(vecs, "vec_id", "embedding", 0.999)
      .select("key_a", "key_b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingDupLsh(vecs, "vec_id", "embedding", 0.999,
        dim = 16, bits = 4)
      .select("key_a", "key_b").as[(Long, Long)].collect().toSet
    // the planted pairs exist, LSH finds only same-bucket ones, and every
    // LSH pair is an all-pairs pair (no false positives past the threshold)
    assert(all.nonEmpty && all.forall { case (a, b) => b - a == 100 })
    assert(lsh.subsetOf(all))
    // near-identical vectors share sign patterns — recall stays high
    assert(lsh.size >= all.size / 2,
      s"LSH recall collapsed: ${lsh.size} of ${all.size}")
  }

  test("connectedComponents: hash-min finds min-key per component") {
    // chain 1-2-3-4 (diameter 3), clique 10-11-12, pair 20-21, isolates
    val nodes = (Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 20L, 21L, 30L, 31L))
      .toDF("doc_id")
    val edges = Seq((2L, 1L), (3L, 2L), (4L, 3L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("src", "dst")
    // every round but the last is freed before the call returns
    val got = freedAfter(
      Dedup.connectedComponents(nodes, "doc_id", edges, iters = 3))(
      _.as[(Long, Long)].collect().toMap)
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L,
      30L -> 30L, 31L -> 31L)
    assert(got === want)
    assert(Dedup.converged(
      Dedup.connectedComponents(nodes, "doc_id", edges, 3), "doc_id", edges))
    // too few rounds: the chain's far end hasn't met the minimum yet —
    // and the fixpoint check reports exactly that instead of passing
    val early = Dedup.connectedComponents(nodes, "doc_id", edges, 1)
    assert(early.as[(Long, Long)].collect().toMap.apply(4L) === 3L)
    assert(!Dedup.converged(early, "doc_id", edges))
  }
}
