package perfbench

import graft.core.Transcripts
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every generator is a pure function of its
  * arguments: the same seed and size give the same rows. */
object Gen {
  /** Seed folded to a small positive offset so id arithmetic cannot
    * overflow a long under ANSI mode. */
  private def fold(seed: Long): Long = java.lang.Math.floorMod(seed, 1000003L)

  /** Transcript turns `(conv_id, turn_idx, role, text, tool, ts)` in the
    * shape of `Transcripts.synthetic`: 20 turns per conversation, 40
    * pseudo-words per turn wrapped in the four payload shells of
    * `Transcripts.payload`. */
  def turns(spark: SparkSession, n: Long, seed: Long, parts: Int): DataFrame = {
    val off = fold(seed) * 1009L
    import spark.implicits._
    // 40 pseudo-words over a 65536-word space per turn, from id arithmetic
    val withWords = spark.range(0, n, 1, parts).map { id =>
      val b = new StringBuilder(40 * 6)
      var i = 0
      while (i < 40) {
        if (i > 0) b += ' '
        val h = java.lang.Math.floorMod((id + off) * 2654435761L + i * 2246822519L, 65536L)
        b += 'w' ++= java.lang.Long.toHexString(h)
        i += 1
      }
      (id, b.toString)
    }.toDF("id", "words")
    val id = col("id")
    withWords.select(
      concat(lit("c"), lpad((id / 20).cast("long").cast("string"), 14, "0")).as("conv_id"),
      (id % 20).cast("int").as("turn_idx"),
      expr("element_at(array('user','assistant','tool'), cast(id % 3 as int) + 1)").as("role"),
      Transcripts.payload(id + lit(off), col("words")).as("text"),
      when(id % 3 === 2, lit("search")).otherwise(lit(null)).cast("string").as("tool"),
      (lit(1704067200L) + id).cast("timestamp").as("ts"))
  }

  // ------------------------------------------------------------ curation

  /** Shares of the planted kinds among all docs, as measured on the sf0.1
    * `documents` table of the project's test data (TESTDATA.md; 5 000 docs)
    * with the gates `CurationJob` applies: 0.16 % exact duplicates after
    * case and space folding, 4.7 % dropped by the 3-shingle MinHash-LSH
    * prune, 14.5 % non-bench docs sharing a 4-shingle with the bench set
    * (doc_id ≡ 0 mod 97) and 22.1 % under the 650 000 ppm quality gate.
    * The rest is plain. Bench docs and origin docs (doc_id ≡ 1 mod 10, the
    * only sources duplicates copy from) are always plain; every other doc
    * draws its kind with these shares scaled by 1 / [[Free]]. */
  val Kinds: Seq[(String, Double)] = Seq(
    "exact_dup" -> 0.002, "near_dup" -> 0.047, "contaminated" -> 0.145,
    "low_quality" -> 0.221)
  /** Share of docs that are neither bench nor origin docs. */
  val Free: Double = 1.0 - (1.0 / 97 + 1.0 / 10 - 1.0 / 970)
  /** Language shares of the same table (en 41.2 %, de 14.0 %, es 14.9 %,
    * fr 14.8 %, zh 15.1 %). */
  val Langs: Seq[(String, Double)] = Seq(
    "en" -> 0.41, "de" -> 0.14, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15)

  private def pick(h: org.apache.spark.sql.Column,
                   shares: Seq[(String, Double)]) = {
    val u = pmod(h, lit(1000000L))
    val bounds = shares.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(b => math.round(b * 1000000L))
    shares.map(_._1).zip(bounds).init.foldRight(lit(shares.last._1)) {
      case ((name, b), acc) => when(u < b, lit(name)).otherwise(acc)
    }
  }

  /** A letters-only pseudo-word over a 26^4 vocabulary. */
  private def word(seed: Long, content: org.apache.spark.sql.Column,
                   j: org.apache.spark.sql.Column) =
    lower(translate(conv(pmod(xxhash64(lit(seed), content, j), lit(456976L))
      .cast("string"), 10, 26), "0123456789", "qrstuvwxyz"))

  private val Stops = graft.text.Normalize.DefaultStops

  /** Documents `(doc_id, text, lang, source, n_chars)` for `CurationJob`,
    * really distinct apart from the planted duplicates: each doc is drawn
    * from a 26^4-word vocabulary with one stopword in five, so unrelated
    * docs share no 3- or 4-word shingle. (The sf0.1 table draws from 31
    * words, which is why copies of it collapse under the near-duplicate
    * prune.) Lengths span the sf0.1 table's 10–100 tokens, and, as there,
    * low quality means short: plain docs are 26–100 tokens and pass the
    * quality gate, low-quality docs are 10–20 tokens and fail it. With
    * `withTruth` the frame also carries the hidden `kind` and `src`
    * columns the self-test checks. */
  def documents(spark: SparkSession, n: Long, seed: Long, parts: Int = 16,
                withTruth: Boolean = false): DataFrame = {
    val id = col("doc_id")
    def h(tag: String) = xxhash64(lit(seed), id, lit(tag))
    val forced = id % 97 === 0 || id % 10 === 1
    val kind = when(forced, lit("plain"))
      .otherwise(pick(h("kind"), Kinds.map { case (k, p) => k -> p / Free } :+ ("plain" -> 0.0)))
    // an origin below this doc: 10k + 1 for k in [0, id / 10), never a bench doc
    val cand = pmod(h("src"), greatest(id / 10, lit(1L)).cast("long")) * 10 + 1
    val origin = when(cand % 97 === 0, cand - 10).otherwise(cand)
    val bench = pmod(h("bench"), greatest(lit(n / 97), lit(1L))) * 97
    val stopArr = array(Stops.map(lit): _*)
    // token j of content `c`: a stopword every fifth slot, else a word
    def tok(c: org.apache.spark.sql.Column, j: org.apache.spark.sql.Column) =
      when(pmod(j, lit(5)) === 4,
        element_at(stopArr, (pmod(xxhash64(lit(seed), c, j), lit(Stops.size.toLong)) + 1).cast("int")))
        .otherwise(word(seed, c, j))
    def tokens(c: org.apache.spark.sql.Column, len: org.apache.spark.sql.Column) =
      transform(sequence(lit(0), len - 1), j => tok(c, j))
    def lenOf(c: org.apache.spark.sql.Column) =
      (pmod(xxhash64(lit(seed), c, lit("len")), lit(75L)) + 26).cast("int")
    val srcLen = lenOf(col("src"))
    val half = (srcLen / 2).cast("int")
    val base = spark.range(0, n, 1, parts).toDF("doc_id")
      .withColumn("kind", kind)
      .withColumn("src", when(col("kind").isin("exact_dup", "near_dup"), origin)
        .otherwise(id))
    val text = base
      .withColumn("toks", tokens(col("src"), srcLen))
      .withColumn("text",
        when(col("kind") === "exact_dup",
          // case and spacing differ; the normalized text is the source's
          concat_ws("  ", transform(col("toks"), (t, j) =>
            when(pmod(j, lit(3)) === 0, upper(t)).otherwise(t))))
        .when(col("kind") === "near_dup",
          // the last token re-drawn: 3-shingle Jaccard (len - 3) / (len - 1)
          array_join(concat(slice(col("toks"), lit(1), srcLen - 1),
            array(concat(word(seed, id, srcLen), lit("x")))), " "))
        .when(col("kind") === "contaminated",
          // tokens 3–8 of a bench doc (at least 10 long) spliced into the middle
          array_join(concat(slice(col("toks"), lit(1), half),
            slice(tokens(bench, lit(10)), 3, 6),
            slice(col("toks"), half + 1, lit(100))), " "))
        .when(col("kind") === "low_quality",
          // too short for the gate
          array_join(tokens(id, (pmod(h("lq"), lit(11L)) + 10).cast("int")), " "))
        .otherwise(array_join(col("toks"), " ")))
    val out = text.select(id, col("text"),
      pick(h("lang"), Langs).as("lang"),
      concat(lit("src"), pmod(id, lit(20L)).cast("string")).as("source"),
      length(col("text")).cast("long").as("n_chars"),
      col("kind"), col("src"))
    if (withTruth) out else out.drop("kind", "src")
  }
}
