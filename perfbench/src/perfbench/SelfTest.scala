package perfbench

import graft.corpus.Curation
import graft.dedup.Dedup
import graft.textstats.TextStatsExprs
import org.apache.spark.sql.functions._

/** The benchmark's own tests.
  *
  *  1. The ledger lists a throwing operation and a wrong result by name and
  *     times neither.
  *  2. A real extract job fed an input that throws, and one whose output
  *     no longer matches its oracle, both count as failures.
  *  3. The curation generator reproduces its stated shares, and each planted
  *     kind has the property its name claims.
  *
  * usage: perfbench.SelfTest <workDir>; exits 1 on any failed expectation. */
object SelfTest {
  private var failures = 0
  private def expect(cond: Boolean, what: String): Unit = {
    if (!cond) failures += 1
    println(s"${if (cond) "ok  " else "FAIL"} $what")
  }

  def main(args: Array[String]): Unit = {
    val c = Main.Conf("extract-uniform", 7L, 1, trace = false, args(0), 2, queryTables = "")

    val l = new Ledger
    val thrown = l.run("throws#0")(throw new IllegalStateException("boom"))((_: Nothing) => None)
    val wrong = l.run("wrong#0")(41)(v => if (v == 42) None else Some(s"got $v"))
    expect(l.failed.map(_._1) == Seq("throws#0", "wrong#0") && thrown.isEmpty && wrong.isEmpty,
      "ledger: a throwing and a wrong operation are listed by name, neither is timed")
    val right = l.run("right#0")(42)(v => if (v == 42) None else Some(s"got $v"))
    expect(l.attempted == 3 && l.failed.size == 2 && right.exists(_._2 >= 0),
      "ledger: a checked success is timed")

    val spark = Main.session(c)
    try {
      val wl = new ExtractWorkload(2000L)
      val jl = new Ledger
      wl.generate(spark, c, 1)
      wl.reference(spark)
      expect(wl.timedOp(spark, c, jl, "warmup#0").nonEmpty && jl.failed.isEmpty,
        "extract: a job over the generated input checks out")
      // same shape, other seed: the job runs but its output misses the oracle
      val in = s"${c.work}/input-1"
      Files.delete(in)
      Gen.turns(spark, 2000L, c.seed + 1, parts = 4).write.parquet(in)
      val wrongOut = wl.timedOp(spark, c, jl, "wrong-output#0")
      Files.delete(in)
      val throwing = wl.timedOp(spark, c, jl, "throws#0")
      expect(jl.failed.map(_._1) == Seq("wrong-output#0", "throws#0") &&
        wrongOut.isEmpty && throwing.isEmpty,
        s"extract: wrong output and a throwing job are failures with no time (${jl.failed})")

      curationShares(spark, c.seed)
    } finally spark.stop()
    println(if (failures == 0) "self-test passed" else s"self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  private def curationShares(spark: org.apache.spark.sql.SparkSession, seed: Long): Unit = {
    val n = 20000L
    val docs = Gen.documents(spark, n, seed, parts = 4, withTruth = true)
      .withColumn("norm", lower(regexp_replace(col("text"), "\\s+", " ")))
      .withColumn("tokens", split(col("text"), " "))
      .withColumn("quality", TextStatsExprs.qualityScorePpm(col("text"),
        graft.text.Normalize.DefaultStops))
      .cache()
    def share(cond: org.apache.spark.sql.Column): Double =
      docs.filter(cond).count().toDouble / n
    // within four binomial standard deviations of the stated share
    def near(got: Double, p: Double) = math.abs(got - p) <= 4 * math.sqrt(p * (1 - p) / n) + 1e-3
    Gen.Kinds.foreach { case (kind, p) =>
      val got = share(col("kind") === kind)
      expect(near(got, p), f"generator: $kind share $got%.4f ≈ stated $p%.3f")
    }
    Gen.Langs.foreach { case (lang, p) =>
      val got = share(col("lang") === lang)
      expect(near(got, p), f"generator: lang $lang share $got%.4f ≈ stated $p%.2f")
    }
    val src = docs.select(col("doc_id").as("src"), col("norm").as("src_norm"),
      col("tokens").as("src_tokens"), col("kind").as("src_kind"))
    val dups = docs.filter(col("kind").isin("exact_dup", "near_dup")).join(src, "src")
    expect(dups.filter(col("src_kind") =!= "plain").isEmpty, "generator: duplicates copy plain docs")
    expect(dups.filter(col("kind") === "exact_dup" && col("norm") =!= col("src_norm")).isEmpty,
      "generator: an exact duplicate normalizes to its source's text")
    val sh = (t: org.apache.spark.sql.Column) => array_distinct(Dedup.shingles(t, 3))
    val jac = dups.filter(col("kind") === "near_dup").select(
      (size(array_intersect(sh(col("tokens")), sh(col("src_tokens")))) /
        size(array_union(sh(col("tokens")), sh(col("src_tokens"))))).as("j"))
      .agg(min("j"), max("j")).collect()(0)
    expect(jac.getDouble(0) >= 0.5 && jac.getDouble(1) < 1.0,
      s"generator: near duplicates sit at 3-shingle Jaccard [0.5, 1) from their source: $jac")
    val lowQ = docs.filter(col("kind") === "low_quality")
    expect(lowQ.filter(col("quality") >= 650000L).isEmpty &&
      docs.filter(col("kind") =!= "low_quality" && col("quality") < 650000L).isEmpty,
      "generator: exactly the low-quality docs fail the 650000 ppm quality gate")
    val bench = docs.filter(col("doc_id") % 97 === 0).select("tokens")
    val hit = Curation.contaminated(docs.filter(col("doc_id") % 97 =!= 0), bench, "doc_id",
      "tokens", k = 4).join(docs.select("doc_id", "kind", "src"), "doc_id")
    val (falseHits, hits) = (hit.filter(col("kind") =!= "contaminated").count(), hit.count())
    val planted = docs.filter(col("kind") === "contaminated").count()
    expect(falseHits == 0 && hits == planted,
      s"generator: exactly the $planted contaminated docs share a 4-shingle with the bench set " +
        s"($hits hit, $falseHits of other kinds)")
    val plain = docs.filter(col("kind") === "plain")
    expect(plain.select("norm").distinct().count() == plain.count(),
      "generator: plain docs are pairwise distinct")
    val pairs = Dedup.minhashLshMd5(plain.select("doc_id", "tokens"), "doc_id", "tokens",
      k = 3, numHashes = 16, bands = 4).filter(col("est_jaccard") >= 0.5)
    expect(pairs.isEmpty, "generator: no two plain docs are near duplicates")
    docs.unpersist()
  }
}
