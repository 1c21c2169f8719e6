package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (Array[Float]).
  *
  * The reference computes probe-vs-corpus cosine similarity as a dense numpy
  * row and argsorts it (reference: src/doc_classification.py:325-343,
  * modules/k_means_approach.py:6). Re-expressed:
  *
  *  - [[cosine]] — normalized dot product as zip_with/aggregate column math
  *    (no UDF, stays in codegen);
  *  - [[bruteTopK]] — exact top-k per probe: broadcast the (small) probe set,
  *    score every corpus row, window top-k. One scan, no corpus shuffle —
  *    the 100 TB-safe baseline when probes are few;
  *  - [[lshTopK]] — random-hyperplane LSH variant: corpus and probes bucket
  *    by sign-pattern; only same-bucket pairs score. The bucket join is the
  *    single shuffle and candidate counts drop by ~2^bits — the scale path
  *    for many-probe workloads (IVF-style).
  */
object Ann {

  /** dot(a,b) with element-wise double accumulation in array order —
    * deterministic (no parallel reduction inside a row). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0d), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0d), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Composed HOF spelling of cosine — kept as the cross-check target for
    * [[CosineSimExpr]] (AnnSpec pins native ≡ composed). */
  def cosineComposed(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** M9 — cosine similarity as the native codegen'd [[CosineSimExpr]]
    * (the HOF spelling ran interpreted per element; see that file). */
  def cosine(a: Column, b: Column): Column = CosineSimExpr.cosineSim(a, b)

  /** Exact brute-force top-k neighbours for each probe id.
    * `probes` must be small (broadcast). Ties break on corpus key asc. */
  def bruteTopK(corpus: DataFrame, probes: DataFrame, key: String, vec: String,
                k: Int): DataFrame = {
    val c = corpus.select(col(key).as("c_key"), col(vec).as("c_vec"))
    val p = probes.select(col(key).as("p_key"), col(vec).as("p_vec"))
    val scored = c.crossJoin(broadcast(p))
      .filter(col("c_key") =!= col("p_key"))
      .withColumn("cos", round(cosine(col("c_vec"), col("p_vec")), 6))
    val w = Window.partitionBy(col("p_key"))
      .orderBy(col("cos").desc, col("c_key").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("p_key"), col("c_key"), col("cos"), col("rk"))
  }

  /** Composed HOF spelling of the sign bucket — kept as the cross-check
    * target for [[HyperplaneBucketExpr]] (AnnSpec pins native ≡ composed).
    * Each projection is ONE aggregate lambda with the coefficient computed
    * arithmetically from the element index, so the expression tree is
    * O(bits); unrolling dim×bits element_at nodes instead blows up codegen
    * at dim ≥ 128. */
  def hyperplaneBucketComposed(vec: Column, dim: Int, bits: Int): Column = {
    val idx = sequence(lit(0), lit(dim - 1))
    (0 until bits).map { b =>
      // h_b[d] = ((b*dim + d) * 2654435761 mod 1024) - 512 : fixed pseudo-noise
      val proj = aggregate(
        zip_with(vec, idx, (x, d) =>
          x.cast("double") *
            (pmod((lit(b.toLong) * dim + d) * lit(2654435761L), lit(1024L))
              - 512L).cast("double")),
        lit(0.0d), (acc, x) => acc + x)
      when(proj > 0, shiftleft(lit(1), b)).otherwise(lit(0))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Random-hyperplane sign bucket: `bits` pseudo-random hyperplanes, the
    * sign of dot(v, h_i) contributes bit i. Hyperplane coefficients are
    * deterministic arithmetic of (bit, dim) — no RNG, stable across runs
    * and replayable by the SQL oracles. Native codegen'd expression
    * ([[HyperplaneBucketExpr]] — the HOF spelling ran interpreted per
    * element, a per-corpus-row scan cost at ingestion scale). */
  def hyperplaneBucket(vec: Column, dim: Int, bits: Int): Column =
    HyperplaneBucketExpr.hyperplaneBucket(vec, dim, bits)

  /** Bits sized to the corpus: buckets ≈ n / 2^bits, so pick
    * bits = ceil(log2(n / targetBucket)) clamped to [4, 24] — a fixed
    * bits=8 leaves n²/256 candidates per bucket at web scale. */
  def bitsFor(n: Long, targetBucket: Int = 256): Int = {
    val raw = math.ceil(math.log(math.max(n, 1).toDouble / targetBucket)
      / math.log(2.0)).toInt
    math.min(24, math.max(4, raw))
  }

  /** LSH-bucketed ANN top-k. Candidates = same-bucket pairs; with
    * `multiProbe` the probe ALSO visits every bucket at Hamming distance 1
    * from its own (bits+1 buckets per probe) — the standard multi-probe
    * recall recovery for sign-LSH, costing (bits+1)× probe-side rows while
    * the corpus is still bucketed once. */
  def lshTopK(corpus: DataFrame, probes: DataFrame, key: String, vec: String,
              k: Int, dim: Int, bits: Int = 8,
              multiProbe: Boolean = true): DataFrame = {
    val c = corpus.select(col(key).as("c_key"), col(vec).as("c_vec"),
      hyperplaneBucket(col(vec), dim, bits).as("bucket"))
    val p0 = probes.select(col(key).as("p_key"), col(vec).as("p_vec"),
      hyperplaneBucket(col(vec), dim, bits).as("bucket"))
    val p =
      if (!multiProbe) p0
      else p0.select(col("p_key"), col("p_vec"),
        explode(array(col("bucket") +:
          (0 until bits).map(i => col("bucket").bitwiseXOR(lit(1 << i))): _*))
          .as("bucket"))
    val scored = c.join(p, Seq("bucket"))
      .filter(col("c_key") =!= col("p_key"))
      .withColumn("cos", round(cosine(col("c_vec"), col("p_vec")), 6))
    // a probe can meet the same corpus row in several probed buckets —
    // dedup before ranking
    val w = Window.partitionBy(col("p_key"))
      .orderBy(col("cos").desc, col("c_key").asc)
    scored.select("p_key", "c_key", "cos").distinct()
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("p_key"), col("c_key"), col("cos"), col("rk"))
  }

  /** The grid quantization every IVF distance runs on (1e-4 grid). */
  private def ivfQuant(v: Column): Column =
    floor(v.cast("double") * lit(1e4) + lit(0.5)).cast("long")

  /** Build the IVF coarse quantizer from a clustering of (a sample of)
    * the corpus: ONE row packing the per-list, dim-ordered integer-grid
    * centroid arrays, lists ascending so [[ivfAssign]]'s argmin fold
    * resolves distance ties to the LOWER list id by construction.
    *
    * The centroid is the GRID-ROUNDED EMPIRICAL CENTROID of `clusters`
    * ((key, cluster)): components snap to the 1e-4 integer grid and the
    * centroid is floor(Σvq/cnt + 0.5) per dim, so every centroid distance
    * is exact integer arithmetic and list assignment and probe routing are
    * bit-replayable cross-engine (the q40 grid discipline). `clusters`
    * only seeds the quantizer (standard IVF: it may be trained on a
    * sample); [[ivfAssign]] then maps EVERY corpus row to a list. The build
    * (key-join with `clusters`, posexplode, partial agg down to nlist×dim
    * grid longs) shuffles only the clustered sample.
    *
    * The quantizer is a MODEL artifact: at scale, build it once,
    * `persist()` (or write) it, and feed it to every query — inlining it
    * re-evaluates the build per consumer. */
  def ivfQuantizer(clustered: DataFrame, key: String, vec: String,
                   clusters: DataFrame): DataFrame = {
    val pts = clustered.select(col(key).as("c_key"), col(vec).as("c_vec"))
      .join(clusters.select(col(key).as("c_key"), col("cluster")), "c_key")
      .select(col("cluster"), posexplode(col("c_vec")).as(Seq("dim", "v")))
      .withColumn("vq", ivfQuant(col("v")))
    pts.groupBy("cluster", "dim")
      .agg(floor(sum("vq").cast("double") / count(lit(1)) + lit(0.5))
        .cast("long").as("c4"))
      .groupBy("cluster")
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c4")))),
        s => s.getField("c4")).as("carr"))
      .agg(array_sort(collect_list(struct(col("cluster").cast("int")
        .as("list"), col("carr")))).as("cents"))
  }

  /** Default probe sizing (the bitsFor analog for IVF): nprobe =
    * ⌈0.8·nlist⌉. Measured recall@5 vs [[bruteTopK]] on the fixture
    * embeddings (2026-08-17, nlist = 10 kmeans lists): the old nprobe=3
    * default read 20–47%; at the sized default (8 of 10 lists) recall is
    * 100% (sf0.001, n=500), 80% (sf0.01, n=500), 93% (sf0.1, n=2000) — the
    * default buys ≥80% everywhere measured. The fixture embeddings are
    * near-isotropic — IVF's ADVERSARIAL case, where true neighbours scatter
    * across lists; a corpus with genuine cluster structure reaches the same
    * recall at far lower nprobe, so treat this default as the safe floor
    * and tune DOWN with the measured nprobe→recall curve (the q73 gate)
    * when the corpus allows. Cost is proportional: the candidate set is
    * nprobe/nlist of the corpus per probe. */
  def nprobeFor(nlist: Int): Int = math.max(1, math.ceil(0.8 * nlist).toInt)

  /** exact integer d2 to one packed centroid — evaluated per row, in-scan */
  private def d2To(vq: Column, carr: Column): Column =
    aggregate(zip_with(vq, carr, (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)

  /** The IVF corpus-side list assignment — (c_key, c_vec, list), every
    * corpus row mapped to its nearest inverted list by exact integer-grid
    * argmin against the broadcast quantizer. Shuffle-free: ONE broadcast
    * row carries the packed centroid matrix and the argmin runs inside the
    * scan projection with array HOFs. The assignment is
    * nprobe-independent and is THE corpus-sized scan of every IVF query,
    * so a caller serving several probes/nprobe points (q70's top-k, q72's
    * recall read, q73's whole nprobe curve) builds it once and persists
    * it — the inverted lists are a model artifact exactly like the
    * quantizer, and at 10^12 rows they are what a deployment stages to
    * disk next to it. At that scale nlist grows ~√n and the n·nlist·d
    * assignment cost stays the standard IVF build price, embarrassingly
    * parallel. */
  def ivfAssign(corpus: DataFrame, quantizer: DataFrame, key: String,
                vec: String): DataFrame =
    corpus.select(col(key).as("c_key"), col(vec).as("c_vec"))
      .crossJoin(broadcast(quantizer))
      .withColumn("vq", transform(col("c_vec"), ivfQuant(_)))
      .withColumn("list", aggregate(
        col("cents"),
        struct(lit(Long.MaxValue).as("d2"), lit(-1).as("list")),
        (acc, c) => {
          val d2 = d2To(col("vq"), c.getField("carr"))
          when(d2 < acc.getField("d2"),
            struct(d2.as("d2"), c.getField("list").as("list"))).otherwise(acc)
        }).getField("list"))
      .select(col("c_key"), col("c_vec"), col("list"))

  /** IVF (inverted-file) ANN top-k — the data-adaptive scale path next to
    * [[lshTopK]]'s data-oblivious one. Runs against a pre-built
    * (persistable) [[ivfQuantizer]] row and its [[ivfAssign]] corpus
    * assignment: each probe visits only its `nprobe` nearest lists and
    * rescores those candidates exactly. No corpus-sized work beyond the
    * candidate slice: probe routing is the same broadcast against the
    * (tiny) probe set, candidate selection broadcasts the (p_key, list)
    * routing table against the assignment's list column, and the only
    * candidate-sized exchange is the per-probe top-k window — an
    * nprobe/nlist fraction of the corpus per probe. Only the final rescore
    * runs in floats: cosine of the ORIGINAL vectors, per-row array-order
    * accumulation (no group summation), rounded 6dp.
    *
    * `nprobe` = 0 (the default) resolves to [[nprobeFor]] of the
    * quantizer's list count (one head() on the one-row quantizer frame);
    * negative values are rejected, never read as auto-sizing. See
    * [[nprobeFor]] for the measured recall the default buys. */
  def ivfTopKAssigned(assigned: DataFrame, probes: DataFrame,
                      quantizer: DataFrame, key: String, vec: String,
                      k: Int, nprobe: Int = 0): DataFrame = {
    require(nprobe >= 0,
      s"nprobe must be >= 0 (0 = auto-size via nprobeFor): $nprobe")
    val np =
      if (nprobe > 0) nprobe
      else nprobeFor(quantizer.select(size(col("cents"))).head().getInt(0))
    // probe routing: nprobe nearest lists via an in-row sort of the (tiny)
    // per-list distance array — (d2 asc, list asc), the same tie rule
    val probeKeys = probes.select(col(key).as("p_key"), col(vec).as("p_vec"))
    val routing = probeKeys.crossJoin(broadcast(quantizer))
      .withColumn("vq", transform(col("p_vec"), ivfQuant(_)))
      .select(col("p_key"), explode(slice(array_sort(
        transform(col("cents"), c => struct(
          d2To(col("vq"), c.getField("carr")).as("d2"),
          c.getField("list").as("list")))), 1, np)).as("r"))
      .select(col("p_key"), col("r.list").as("list"))
    val cand = assigned
      .join(broadcast(routing), Seq("list"))
      .join(broadcast(probeKeys), Seq("p_key"))
      .filter(col("c_key") =!= col("p_key"))
      .withColumn("cos", round(cosine(col("c_vec"), col("p_vec")), 6))
    val w = Window.partitionBy(col("p_key"))
      .orderBy(col("cos").desc, col("c_key").asc)
    cand.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("p_key"), col("c_key"), col("cos"), col("rk"))
  }
}
