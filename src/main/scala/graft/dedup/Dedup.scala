package graft.dedup

import graft.scale.Scale
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication suite for a web-scale training-data pipeline: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design (100 TB):
  *  - exact dedup is one hash-shuffle on a 16-byte digest — the minimum
  *    possible exchange; the winner per group is its min() key, as an
  *    aggregate where only the winners are needed (partial aggregation
  *    applies) and as a window where every row carries its flag;
  *  - MinHash/LSH never materializes the O(n²) pair space: docs shuffle once
  *    keyed by (band, band-signature) and only same-bucket pairs join;
  *  - SimHash buckets on 8-bit sub-keys of the 32-bit signature (each
  *    near-dup pair within Hamming distance r collides on ≥1 sub-key for
  *    r ≤ 3 by pigeonhole over 4 sub-keys);
  *  - the MinHash and SimHash token hashes are md5-derived, so the DuckDB
  *    oracles replay signatures and candidate sets bit for bit;
  *  - embedding near-dup composes with [[graft.sim.Ann]]'s LSH bucketing.
  */
object Dedup {

  // ------------------------------------------------------------ exact (hash)

  /** The exact-dedup fingerprint: md5 of the lowercased, whitespace-
    * collapsed text, so case and whitespace variants share a digest. */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "\\s+", " "))

  /** Exact dedup: keeps the smallest key per [[fingerprint]] group.
    * Returns (key, fingerprint, keep) for every row with non-null text —
    * keep = true on the group's canonical representative. The group
    * minimum is a window over the fingerprint, so md5 runs once per row and
    * the rows shuffle once, with no join back. */
  def exact(df: DataFrame, key: String, text: String): DataFrame =
    df.filter(col(text).isNotNull)
      .select(col(key), fingerprint(col(text)).as("fingerprint"))
      .withColumn("keep",
        col(key) === min(col(key)).over(Window.partitionBy("fingerprint")))

  // ------------------------------------------------------- shingles / jaccard

  /** k-token shingles of a token array, as strings — native one-pass
    * kernel ([[ShinglesExpr]]); the composed spelling below is the
    * DedupSpec cross-check target. */
  def shingles(tokens: Column, k: Int): Column =
    ShinglesExpr.shingles(tokens, k)

  /** Composed HOF spelling of [[shingles]] (pinned ≡ native by spec). */
  private[graft] def shinglesComposed(tokens: Column, k: Int): Column =
    transform(sequence(lit(0), greatest(size(tokens) - k, lit(0))),
      i => array_join(slice(tokens, i + 1, lit(k)), " "))

  /** n-gram Jaccard near-dup: candidate pairs share ≥1 shingle (inverted-
    * index self-join — never the full cross product), similarity =
    * |∩| / (|A| + |B| − |∩|) over DISTINCT shingle sets. Returns pairs with
    * jaccard ≥ threshold, key_a < key_b.
    *
    * `maxShingleDf` caps the document frequency of shingles admitted to the
    * comparison space: a stop-shingle present in most docs otherwise creates
    * a near-cartesian hot key in the self-join (a shingle in d docs yields
    * d² candidate rows). The cap is a SEMANTIC parameter, not a sampling
    * trick: both sizes and intersections are computed over the capped
    * shingle space, so jaccard-over-capped-space is exact and
    * oracle-replayable. 0 disables the cap.
    *
    * Execution is eager, with [[connectedComponents]]' contract: the pairs
    * are materialized by an eager `localCheckpoint` before the call
    * returns, and the shingle checkpoint behind them is freed, so the call
    * leaves exactly one persisted RDD: the returned pairs, which the caller
    * owns (free it with [[graft.scale.Scale.unpersistCheckpoint]]). */
  def ngramJaccard(df: DataFrame, key: String, tokens: String, k: Int,
                   threshold: Double, maxShingleDf: Long = 0): DataFrame = {
    val shRaw = df
      .select(col(key).as("k"), explode(array_distinct(shingles(col(tokens), k))).as("sh"))
    // The (k, sh) long form is consumed by THREE branches below (per-doc
    // sizes, both sides of the inverted-index self-join, and the df-cap
    // stats) — materialize it once: lazily each branch would re-run the
    // shingle explode over the corpus, and only the self-join's two
    // sides canonicalize equal for exchange reuse. At 10^12 rows this
    // boundary is a staged table (the q74 materialize-between-stages
    // discipline); the checkpoint is the single-job spelling.
    val shMat = shRaw.localCheckpoint()
    val sh =
      if (maxShingleDf <= 0) shMat
      else {
        // one extra small aggregation keyed by shingle (partial agg applies);
        // the join back is on the same key, so the exchange is reused.
        val dfStats = shMat.groupBy("sh").agg(count(lit(1)).as("sh_df"))
          .filter(col("sh_df") <= maxShingleDf).select("sh")
        shMat.join(dfStats, Seq("sh"), "left_semi")
      }
    val sizes = sh.groupBy("k").agg(count(lit(1)).as("sz"))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.k") < col("b.k"))
      .groupBy(col("a.k").as("key_a"), col("b.k").as("key_b"))
      .agg(count(lit(1)).as("inter"))
    val out = pairs
      .join(sizes.withColumnRenamed("k", "key_a").withColumnRenamed("sz", "sz_a"), Seq("key_a"))
      .join(sizes.withColumnRenamed("k", "key_b").withColumnRenamed("sz", "sz_b"), Seq("key_b"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("key_a", "key_b", "jaccard")
      .localCheckpoint()
    Scale.unpersistCheckpoint(shMat)
    out
  }

  // ------------------------------------------------------------ MinHash + LSH

  /** MinHash modulus p = 2^31 − 1 (Mersenne prime): every product
    * a_i · h stays < 2^62, so the signature math cannot overflow under ANSI
    * arithmetic. */
  private val MersenneP = 2147483647L // 2^31 - 1

  /** Composed HOF spelling of the minima fold — kept as the cross-check
    * target for [[MinhashFoldExpr]] (DedupSpec pins native ≡ composed).
    * One pass over the shingle-hash array, state = zip_with-rebuilt array
    * of minima. The (a_i, b_i) family is the one the q29/q45 oracles
    * replay: a = 1000000007(i+1) mod p, b = 998244353(i²+1) mod p. */
  private[graft] def minhashFromHashesComposed(hs: Column, numHashes: Int): Column = {
    val p = lit(MersenneP)
    val idx = sequence(lit(0L), lit(numHashes - 1L))
    val init = transform(idx, _ => lit(MersenneP))
    aggregate(hs, init, (acc, h) =>
      zip_with(acc, idx, (m, i) =>
        least(m, pmod(
          h * pmod(lit(1000000007L) * (i + 1L), p)
            + pmod(lit(998244353L) * (i * i + 1L), p), p))))
  }

  /** MinHash signature: numHashes values, hash_i(doc) = min over the doc's
    * distinct k-shingles of ((a_i · h + b_i) mod p), where h is the first 8
    * hex chars of md5(shingle) as a 32-bit int, reduced mod p. md5 is
    * portable across engines, so the DuckDB oracle replays the signatures
    * bit for bit (q29). Pure column math: computed per row, no shuffle.
    * The minima fold is the native codegen'd [[MinhashFoldExpr]] — one
    * primitive long[H] per row; the shingle array is never empty
    * ([[shingles]] emits ≥1 element even for short docs), so the p-valued
    * init is always beaten. */
  def minhashSignatureMd5(tokens: Column, k: Int, numHashes: Int): Column = {
    val p = lit(MersenneP)
    val sh = array_distinct(shingles(tokens, k))
    MinhashFoldExpr.minhashFold(
      transform(sh, s => pmod(conv(substring(md5(s), 1, 8), 16, 10).cast("long"), p)),
      numHashes)
  }

  /** MinHash+LSH near-dup pairs over [[minhashSignatureMd5]]: the distinct
    * [[minhashLshCandidates]], one row per (key_a, key_b) with its
    * estimated Jaccard (fraction of matching signature slots). The DuckDB
    * oracle replays the whole candidate generation — banding, bucket join
    * and slot-match estimate (q45, q58). */
  def minhashLshMd5(df: DataFrame, key: String, tokens: String, k: Int = 3,
                    numHashes: Int = 16, bands: Int = 4,
                    maxBucket: Long = 0): DataFrame =
    minhashLshCandidates(df, key, tokens, k, numHashes, bands, maxBucket)
      .distinct()

  /** The MinHash+LSH candidate pairs behind [[minhashLshMd5]]: band the
    * signature (bands × rowsPerBand = numHashes), bucket-join on (band_id,
    * band_signature). One shuffle keyed by band bucket; same-bucket pairs
    * only. Returns (key_a, key_b, est_jaccard) with key_a < key_b, once per
    * band the pair collides in. A caller that only tests membership (an
    * anti- or semi-join on a key) reads these as they are, without the
    * shuffle a `distinct` costs.
    *
    * `maxBucket` caps bucket population: a bucket of b docs makes b²/2
    * candidate pairs, so one degenerate bucket (e.g. the empty-shingle
    * signature of trivial docs) can dominate the join at scale. Buckets
    * larger than the cap are dropped from candidate generation — a standard,
    * documented recall trade (members of a giant bucket are near-identical
    * boilerplate and surface via exact dedup instead). 0 disables. */
  def minhashLshCandidates(df: DataFrame, key: String, tokens: String, k: Int,
                           numHashes: Int, bands: Int,
                           maxBucket: Long): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val sig = df.select(col(key).as("k"),
      minhashSignatureMd5(col(tokens), k, numHashes).as("sig"))
    val bandedAll = sig.select(col("k"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => array_join(transform(slice(col("sig"), b * rows + 1, lit(rows)),
          x => x.cast("string")), ":"))).as(Seq("band", "bucket")))
    val banded =
      if (maxBucket <= 0) bandedAll
      else {
        val small = bandedAll.groupBy("band", "bucket")
          .agg(count(lit(1)).as("pop"))
          .filter(col("pop") <= maxBucket).select("band", "bucket")
        bandedAll.join(small, Seq("band", "bucket"), "left_semi")
      }
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.k") < col("b.k"))
      .select(col("a.k").as("key_a"), col("b.k").as("key_b"),
        round(size(filter(zip_with(col("a.sig"), col("b.sig"),
          (x, y) => (x === y).cast("int")), e => e === 1)).cast("double")
          / numHashes.toDouble, 6).as("est_jaccard"))
  }

  // ---------------------------------------------------------------- SimHash

  /** Composed HOF spelling of the per-bit majority vote — kept as the
    * cross-check target for [[SimhashFoldExpr]] (DedupSpec pins native ≡
    * composed). One pass, aggregate state = zip_with-rebuilt array of
    * `bits` signed counters. */
  private[graft] def simhashFromHashesComposed(hs: Column, bits: Int): Column = {
    val bitIdx = sequence(lit(0), lit(bits - 1))
    val zeros = transform(bitIdx, _ => lit(0L))
    val votes = aggregate(hs, zeros, (acc, h) =>
      zip_with(acc, bitIdx, (a, b) =>
        a + when(call_function("shiftright", h, b).bitwiseAND(1) === 1, 1L)
          .otherwise(-1L)))
    // disjoint bit masks OR-folded (never summed: bit 63 is Long.MinValue
    // and an ANSI sum would overflow)
    aggregate(
      zip_with(votes, bitIdx, (v, b) =>
        when(v > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** 32-bit SimHash over the token array: per-bit majority vote of token
    * hashes, where a token's hash is the first 8 hex chars of its md5. md5
    * is portable across engines, so the DuckDB oracle replays the
    * signature bit for bit (q39; same trick as [[minhashSignatureMd5]]).
    * The vote fold is the native codegen'd [[SimhashFoldExpr]] — one
    * primitive int[bits] per row. */
  def simhash32Md5(tokens: Column): Column =
    SimhashFoldExpr.simhashFold(
      transform(tokens, t => conv(substring(md5(t), 1, 8), 16, 10).cast("long")),
      32)

  /** SimHash near-dup over [[simhash32Md5]] signatures: bucket on `bands`
    * equal-width sub-keys of the 32-bit signature, join within buckets,
    * verify true Hamming distance.
    *
    * Recall is pigeonhole-exact ONLY for maxHamming < bands (≤ bands−1
    * differing bits cannot touch every sub-key), hence the require: a
    * wider radius over the same bands silently loses pairs. Callers
    * wanting a wider radius must raise `bands` (narrower sub-keys ⇒ more
    * candidate pairs: bands=8 over 32 bits ⇒ 4-bit keys ⇒ ~n²/16
    * candidates per band at scale — price the radius). */
  def simhashDupMd5(df: DataFrame, key: String, tokens: String,
                    maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    val bits = 32
    require(maxHamming < bands,
      s"pigeonhole recall guarantee needs maxHamming < bands ($maxHamming >= $bands)")
    require(bits % bands == 0, "bands must divide bits")
    val width = bits / bands
    val mask = (1L << width) - 1
    val sig = df.select(col(key).as("k"), simhash32Md5(col(tokens)).as("sh"))
    val banded = sig.select(col("k"), col("sh"),
      posexplode(array((0 until bands).map(i =>
        shiftright(col("sh"), i * width).bitwiseAND(mask)): _*))
        .as(Seq("band", "bucket")))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.k") < col("b.k"))
      .select(col("a.k").as("key_a"), col("b.k").as("key_b"),
        col("a.sh").as("sh_a"), col("b.sh").as("sh_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("key_a", "key_b", "hamming")
  }

  // ------------------------------------------------------- embedding near-dup

  /** Embedding-cosine near-dup over an Array[Float] column: normalized dot
    * product ≥ threshold. This is the exact all-pairs small-scale baseline
    * (O(n²) — documented, never sent to a large corpus); the scale path is
    * [[embeddingDupLsh]] (same semantics restricted to sign-bucket
    * collisions) or [[graft.sim.Ann.lshTopK]] for top-k workloads. */
  def embeddingDup(df: DataFrame, key: String, vec: String,
                   threshold: Double): DataFrame = {
    val v = df.select(col(key).as("k"), col(vec).as("v"))
    v.as("a").join(v.as("b"), col("a.k") < col("b.k"))
      .withColumn("cos",
        round(graft.sim.Ann.cosine(col("a.v"), col("b.v")), 6))
      .filter(col("cos") >= threshold)
      .select(col("a.k").as("key_a"), col("b.k").as("key_b"), col("cos"))
  }

  /** Embedding near-dup at scale — the LSH-bucketed twin of [[embeddingDup]]:
    * both sides bucket by the deterministic random-hyperplane sign pattern
    * ([[graft.sim.Ann.hyperplaneBucket]], arithmetic hyperplanes — no RNG,
    * so the candidate set is a pure function of the data and an oracle can
    * replay it), and only same-bucket pairs score. The bucket equi-join is
    * the single shuffle; candidates drop by ~2^bits vs the all-pairs
    * variant, and `bits` sized by [[graft.sim.Ann.bitsFor]] keeps the
    * per-bucket population bounded as the corpus grows — this is the shape
    * that survives 10^12 rows where [[embeddingDup]]'s O(n²) cannot.
    * Recall = pairs whose sign patterns fully agree (standard sign-LSH
    * trade; raise recall by unioning over rotated hyperplane families). */
  def embeddingDupLsh(df: DataFrame, key: String, vec: String,
                      threshold: Double, dim: Int, bits: Int): DataFrame = {
    val b = df.select(col(key).as("k"), col(vec).as("v"),
      graft.sim.Ann.hyperplaneBucket(col(vec), dim, bits).as("bucket"))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.k") < col("b.k"))
      .withColumn("cos",
        round(graft.sim.Ann.cosine(col("a.v"), col("b.v")), 6))
      .filter(col("cos") >= threshold)
      .select(col("a.k").as("key_a"), col("b.k").as("key_b"), col("cos"))
  }

  // ------------------------------------------------- dup-cluster components

  /** Connected components over an undirected near-dup pair list — the
    * canonical dedup-clustering step production pipelines run AFTER
    * candidate generation: a component is one duplicate cluster, and "keep
    * min(key) per component" generalizes the pairwise greedy-by-id rule to
    * transitive chains (A≈B, B≈C dedupe to ONE keeper even when A≉C).
    *
    * Algorithm: hash-min label propagation — every node starts labeled
    * with its own key; each round, a node takes the min of its own label
    * and its neighbours' labels. After `iters` rounds every node within
    * graph distance `iters` of its component's minimum carries that
    * minimum. Fully deterministic (min is order-free), so a SQL oracle can
    * replay the rounds exactly.
    *
    * Scale shape: one round = one keyed join + one partial-agg min — the
    * LabelProp pattern of bounded keyed shuffles, no driver state. Rounds
    * needed = component diameter; near-dup clusters from banded LSH are
    * clique-dense, so small fixed `iters` converges in practice — and
    * [[converged]] checks a fixpoint cheaply (one extra round, count of
    * changed labels) so a pipeline can assert rather than assume. For
    * adversarial long-chain graphs at 10^12 edges, swap the per-round rule
    * for large-star/small-star (O(log n) rounds) — same frame contract.
    *
    * Input: `nodes` carrying `key`; `edges` carrying (src, dst) pairs (one
    * direction suffices — symmetrized here). Output: (key, component)
    * where component = min key reachable within `iters` hops.
    *
    * Execution is eager: each round is materialized by an eager
    * `localCheckpoint` before the call returns, so the logical plan
    * truncates to the materialized round. [[ccRound]] references the
    * incoming label frame twice (neighbour-min derivation + the carry
    * join), so the lazy spelling doubles the logical plan per round —
    * 2^iters copies of the initial labels in the final tree — and persist() does not
    * help, since analysis still walks the whole tree. Once round r is
    * materialized, round r−1's checkpoint is freed, so the call leaves
    * exactly one persisted RDD: the returned labels, which the caller owns
    * (free it with [[graft.scale.Scale.unpersistCheckpoint]]). The caller's
    * `nodes` and `edges` are never unpersisted. At 10^12 edges swap the
    * localCheckpoint for a Scale.resumableWrite stage boundary, which adds
    * crash-resume on top of the same truncation. */
  def connectedComponents(nodes: DataFrame, key: String, edges: DataFrame,
                          iters: Int): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
    var labels = nodes.select(col(key), col(key).as("component"))
    (1 to iters).foreach { round =>
      val next = ccRound(labels, key, sym).localCheckpoint()
      if (round > 1) Scale.unpersistCheckpoint(labels)
      labels = next
    }
    labels
  }

  /** One hash-min round: label := min(label, min over neighbours). */
  private def ccRound(labels: DataFrame, key: String,
                      sym: DataFrame): DataFrame = {
    val nbrMin = sym
      .join(labels.select(col(key).as("dst"), col("component").as("c")), "dst")
      .groupBy(col("src").as(key)).agg(min(col("c")).as("nbr_min"))
    labels.join(nbrMin, Seq(key), "left_outer")
      .select(col(key),
        least(col("component"), coalesce(col("nbr_min"), col("component")))
          .as("component"))
  }

  /** True iff one more hash-min round changes nothing — the fixpoint check
    * a pipeline runs to ASSERT `iters` covered the component diameters
    * instead of silently shipping split clusters. Cost: one extra round +
    * a count. */
  def converged(labels: DataFrame, key: String, edges: DataFrame): Boolean = {
    val sym = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
    val next = ccRound(labels.select(col(key), col("component")), key, sym)
    labels.select(col(key), col("component").as("c0"))
      .join(next, Seq(key))
      .filter(col("component") =!= col("c0"))
      .isEmpty
  }
}
