package graft

import graft.sim.Ann
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class AnnSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  val corpus = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (3L, Array(0.0f, 0.9f, 0.1f, 0.0f)),
    (4L, Array(0.0f, 0.0f, 0.0f, 1.0f))
  ).toDF("vec_id", "embedding")

  /** IVF top-k composed inline, nothing persisted: quantizer from
    * `clusters` → corpus assignment → probe top-k. */
  private def ivfInline(emb: org.apache.spark.sql.DataFrame,
                        probes: org.apache.spark.sql.DataFrame,
                        clusters: org.apache.spark.sql.DataFrame,
                        k: Int, nprobe: Int) = {
    val quant = Ann.ivfQuantizer(emb, "vec_id", "embedding", clusters)
    Ann.ivfTopKAssigned(Ann.ivfAssign(emb, quant, "vec_id", "embedding"),
      probes, quant, "vec_id", "embedding", k, nprobe)
  }

  test("brute-force top-k ranks by cosine with deterministic tie-break") {
    val probes = corpus.filter(col("vec_id") === 0L)
    val got = Ann.bruteTopK(corpus, probes, "vec_id", "embedding", k = 2)
      .orderBy("rk").select("c_key").as[Long].collect().toSeq
    // nearest is 1 (cos≈0.994); 2,3,4 all tie at cos=0 → key asc picks 2
    assert(got === Seq(1L, 2L))
  }

  test("lsh buckets colocate near-identical vectors") {
    val probes = corpus.filter(col("vec_id") === 0L)
    val got = Ann.lshTopK(corpus, probes, "vec_id", "embedding", k = 3, dim = 4, bits = 4)
      .select("c_key").as[Long].collect().toSet
    assert(got.contains(1L)) // the near-identical vector shares the bucket
  }

  test("lsh candidate set is smaller than brute force on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = emb.filter(col("vec_id") < 3)
    val brute = Ann.bruteTopK(emb, probes, "vec_id", "embedding", 5)
    val lsh = Ann.lshTopK(emb, probes, "vec_id", "embedding", 5, dim = 64, bits = 6)
    assert(brute.count() === 15) // 3 probes × k
    assert(lsh.count() <= 15)
    // recall sanity: every lsh hit scores no better than the brute best
    val bruteTop = brute.filter(col("rk") === 1)
      .select("p_key", "cos").as[(Long, Double)].collect().toMap
    val lshTop = lsh.filter(col("rk") === 1)
      .select("p_key", "cos").as[(Long, Double)].collect()
    lshTop.foreach { case (p, c) => assert(c <= bruteTop(p) + 1e-9) }
  }

  test("multi-probe never ranks a worse top-1 than single-bucket") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = emb.filter(col("vec_id") < 5)
    val single = Ann.lshTopK(emb, probes, "vec_id", "embedding", 5,
        dim = 64, bits = 6, multiProbe = false)
      .filter(col("rk") === 1).select("p_key", "cos")
      .as[(Long, Double)].collect().toMap
    val multi = Ann.lshTopK(emb, probes, "vec_id", "embedding", 5,
        dim = 64, bits = 6, multiProbe = true)
      .filter(col("rk") === 1).select("p_key", "cos")
      .as[(Long, Double)].collect().toMap
    // multi-probe candidates are a superset, so its best hit per probe is
    // at least as good wherever the single-bucket variant found one at all
    single.foreach { case (pk, c) => assert(multi(pk) >= c - 1e-9) }
    assert(multi.size >= single.size)
  }

  test("bitsFor scales bucket count with corpus size") {
    assert(Ann.bitsFor(1000, 256) === 4)       // clamp floor
    assert(Ann.bitsFor(1000000, 256) === 12)   // ceil(log2(3906)) = 12
    assert(Ann.bitsFor(100000000000L, 256) === 24) // clamp ceiling
  }

  test("native hyperplane_bucket is identical to the composed HOF spelling") {
    // gaussian vectors PLUS degenerate rows: short, long, null element —
    // the composed spelling buckets those to 0 (null lanes null every
    // projection) and the native kernel must match instead of crashing.
    // Null-SAFE comparison (<=>): a =!= filter drops NULL-vs-value rows
    // and would hide exactly the divergences this pins (review finding).
    val gauss = (0L until 200L).map { i =>
      val r = new scala.util.Random(i + 1000)
      (i, Array.fill(64)(r.nextGaussian().toFloat))
    }
    val degenerate = Seq(
      (900L, Array.fill(32)(1.0f)),          // shorter than dim
      (901L, Array.fill(80)(1.0f)),          // longer than dim
      (902L, Array.fill(64)(0.0f)))          // zero vector (proj 0 → bucket 0)
    val vecs = (gauss ++ degenerate).toDF("vec_id", "embedding")
    val diff = vecs.select(
        Ann.hyperplaneBucket(col("embedding"), 64, 8).as("native"),
        Ann.hyperplaneBucketComposed(col("embedding"), 64, 8).as("hof"))
      .filter(!(col("native") <=> col("hof"))).count()
    assert(diff === 0)
    assert(vecs.filter(col("vec_id") === 900L)
      .select(Ann.hyperplaneBucket(col("embedding"), 64, 8)).head.getInt(0) === 0)
    val dv = vecs.select(col("vec_id"),
      col("embedding").cast("array<double>").as("e"))
    val diffD = dv.select(
        Ann.hyperplaneBucket(col("e"), 64, 12).as("native"),
        Ann.hyperplaneBucketComposed(col("e"), 64, 12).as("hof"))
      .filter(!(col("native") <=> col("hof"))).count()
    assert(diffD === 0)
  }

  test("native cosine_sim is bit-identical to the composed HOF spelling") {
    // float and double element types; null-SAFE comparison (a =!= filter
    // would drop NULL-vs-value rows and hide divergences — review finding).
    // Parity runs on well-formed vectors only: under Spark 4's default
    // ANSI mode the COMPOSED spelling throws on a zero-norm divisor, which
    // is exactly why the native kernel's NULL is tested separately below.
    val gauss = (0L until 50L).map { i =>
      val r = new scala.util.Random(i)
      (i, Array.fill(64)(r.nextGaussian().toFloat))
    }
    val vecs = gauss.toDF("vec_id", "embedding")
    val pairs = vecs.as("a").join(vecs.as("b"), col("a.vec_id") < col("b.vec_id"))
    val diff = pairs.select(
        Ann.cosine(col("a.embedding"), col("b.embedding")).as("native"),
        Ann.cosineComposed(col("a.embedding"), col("b.embedding")).as("hof"))
      .filter(!(col("native") <=> col("hof"))) // exact, null-safe
      .count()
    assert(diff === 0)
    // double arrays too
    val dv = vecs.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val diffD = dv.as("a").join(dv.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        Ann.cosine(col("a.embedding"), col("b.embedding")).as("native"),
        Ann.cosineComposed(col("a.embedding"), col("b.embedding")).as("hof"))
      .filter(!(col("native") <=> col("hof")))
      .count()
    assert(diffD === 0)
  }

  test("native cosine_sim: degenerate inputs yield NULL, never NaN or a crash") {
    // zero-norm → NULL (a NaN would sort above every real cosine and top
    // every desc ranking; the composed spelling under default ANSI mode
    // straight-up THROWS — one degenerate row would kill the job)
    val vecs = Seq(
      (0L, Array.fill(64)(1.0f)),
      (900L, Array.fill(64)(0.0f)),   // zero norm
      (901L, Array.fill(32)(1.0f)))   // ragged length
      .toDF("vec_id", "embedding")
    val pairs = vecs.as("a").join(vecs.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("ka"), col("b.vec_id").as("kb"),
        Ann.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.isNullAt(2)).toMap
    assert(pairs((0L, 900L)), "zero-norm pair must be NULL")
    assert(pairs((0L, 901L)), "ragged pair must be NULL")
    assert(pairs((900L, 901L)), "doubly-degenerate pair must be NULL")
    // and a NULL cosine fails thresholds / sorts last instead of winning
    val kept = vecs.as("a").join(vecs.as("b"), col("a.vec_id") < col("b.vec_id"))
      .filter(Ann.cosine(col("a.embedding"), col("b.embedding")) >= 0.0)
      .count()
    assert(kept === 0) // only degenerate pairs exist here
  }

  test("nprobeFor sizes the default probe count at ceil(0.8 * nlist)") {
    // pins the shipped default (q70's oracle replays pr <= 8 on 10 lists)
    assert(Ann.nprobeFor(10) === 8)
    assert(Ann.nprobeFor(1) === 1)
    assert(Ann.nprobeFor(2) === 2)
    assert(Ann.nprobeFor(100) === 80)
    // the default resolves inside ivfTopKAssigned when nprobe is omitted:
    // with ceil(0.8*4) = 4 = nlist it must equal the explicit all-lists run
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val clusters = emb.select(col("vec_id"), (col("vec_id") % 4).as("cluster"))
    val probes = emb.filter(col("vec_id") < 3)
    val quant = Ann.ivfQuantizer(emb, "vec_id", "embedding", clusters).persist()
    try {
      val assigned = Ann.ivfAssign(emb, quant, "vec_id", "embedding")
      val auto = Ann.ivfTopKAssigned(assigned, probes, quant, "vec_id",
        "embedding", k = 5).collect().map(_.toSeq).toSet
      val explicit = Ann.ivfTopKAssigned(assigned, probes, quant, "vec_id",
        "embedding", k = 5, nprobe = 4).collect().map(_.toSeq).toSet
      assert(auto === explicit)
    } finally quant.unpersist()
  }

  test("ivf with nprobe = nlist degenerates to exact brute force") {
    // probing EVERY list makes the candidate set the whole corpus, so the
    // rescore must reproduce bruteTopK bit-for-bit (same 6dp rounding,
    // same key-asc tie-break) — pins routing/assignment plumbing loss-free
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val clusters = emb.select(col("vec_id"), (col("vec_id") % 4).as("cluster"))
    val probes = emb.filter(col("vec_id") < 3)
    val brute = Ann.bruteTopK(emb, probes, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    val ivf = ivfInline(emb, probes, clusters, k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(ivf === brute)
  }

  test("ivf against a persisted quantizer matches the inline composition") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val clusters = emb.select(col("vec_id"), (col("vec_id") % 4).as("cluster"))
    val probes = emb.filter(col("vec_id") < 3)
    val inline = ivfInline(emb, probes, clusters, k = 5, nprobe = 2)
      .collect().map(_.toSeq).toSet
    // the q70/q72/q73 shape: quantizer and assignment each built once
    val quant = Ann.ivfQuantizer(emb, "vec_id", "embedding", clusters).persist()
    val assigned = Ann.ivfAssign(emb, quant, "vec_id", "embedding").persist()
    try {
      val viaQuant = Ann.ivfTopKAssigned(assigned, probes, quant, "vec_id",
        "embedding", k = 5, nprobe = 2).collect().map(_.toSeq).toSet
      assert(viaQuant === inline)
    } finally { assigned.unpersist(); quant.unpersist() }
  }

  test("ivf assigns every corpus row even when the quantizer is sample-trained") {
    // standard IVF: the coarse quantizer may be trained on a sample;
    // unclustered corpus rows still get a list and remain findable
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val sampleClusters = emb.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"), (col("vec_id") % 4).as("cluster"))
    val probes = emb.filter(col("vec_id") < 3)
    val ivf = ivfInline(emb, probes, sampleClusters, k = 5,
      nprobe = 4) // all lists probed → candidates = whole corpus
    val brute = Ann.bruteTopK(emb, probes, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val got = ivf.collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    // probing every list still reproduces brute — odd (unclustered) ids
    // included, proving assignment covers rows the quantizer never saw
    assert(got === brute)
    assert(brute.values.exists(_ % 2 === 1))
  }

  test("ivf with nprobe < nlist returns a subset no better than brute") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val clusters = emb.select(col("vec_id"), (col("vec_id") % 8).as("cluster"))
    val probes = emb.filter(col("vec_id") < 3)
    val bruteTop = Ann.bruteTopK(emb, probes, "vec_id", "embedding", 5)
      .filter(col("rk") === 1)
      .select("p_key", "cos").as[(Long, Double)].collect().toMap
    val ivf = ivfInline(emb, probes, clusters, k = 5, nprobe = 2)
    assert(ivf.count() <= 15) // ≤ 3 probes × k
    // the probe's own list is always among its nprobe nearest, so its
    // co-list neighbours are candidates — per-probe results are non-empty
    assert(ivf.select("p_key").distinct().count() === 3)
    ivf.filter(col("rk") === 1).select("p_key", "cos")
      .as[(Long, Double)].collect()
      .foreach { case (p, c) => assert(c <= bruteTop(p) + 1e-9) }
  }
}
