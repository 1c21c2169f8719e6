package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q74's composition invariants — each stage is separately gated
  * (q20/q21/q45); this pins how they compose — and the query map's
  * session-artifact and oracle contracts. */
class CurationSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def run() = SparkEntry.queries("q74_curation")(spark, dir)

  test("curation output is a quality-qualified subset with no duplicate text") {
    val out = run().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.nonEmpty)
    // every survivor clears the gate threshold
    assert(out.values.forall(_ >= 650000L))
    // survivors' quality matches the gated q20 computation exactly
    val q20 = SparkEntry.queries("q20_quality")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { case (id, q) => assert(q20(id) === q) }
    // no two survivors share a normalized-text fingerprint
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id").isin(out.keys.toSeq: _*))
      .select(md5(regexp_replace(lower(col("text")), "\\s+", " ")).as("fp"))
    assert(docs.count() === docs.distinct().count())
  }

  test("curation is deterministic across runs") {
    val a = run().collect().map(_.toSeq).toSet
    val b = run().collect().map(_.toSeq).toSet
    assert(a === b)
  }

  test("near-dup pruning only ever drops the higher id of a pair") {
    // the minimum-id member of every fingerprint/near-dup group survives:
    // the global minimum quality-qualified doc_id can never be dropped
    val q20 = SparkEntry.queries("q20_quality")(spark, dir)
      .filter(col("quality_ppm") >= 650000L)
      .agg(min("doc_id")).head().getLong(0)
    val out = run().select("doc_id").as[Long].collect().toSet
    assert(out.contains(q20))
  }

  test("decontamination flags exactly the docs sharing a shingle, with counts") {
    // bench doc "a b c d" (k=2 shingles: "a b" "b c" "c d"); corpus doc 10
    // shares one ("a b"), doc 11 shares two ("c d" "a b"), doc 12 none
    val mk = (id: Long, s: String) => (id, s)
    val all = Seq(mk(0L, "a b c d"), mk(10L, "x a b y"),
      mk(11L, "c d a b"), mk(12L, "p q r s"))
      .toDF("doc_id", "text")
      .withColumn("tokens", split(col("text"), " "))
    val out = graft.corpus.Curation.contaminated(
        all.filter(col("doc_id") =!= 0L), all.filter(col("doc_id") === 0L),
        "doc_id", "tokens", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(10L -> 1L, 11L -> 2L))
  }

  test("balanced sampling: ppm rates from group counts, md5-priority row picks") {
    // g1 has 4 rows, g2 has 2 → mn = 2, r(g1) = 500000 ppm, r(g2) = 1000000
    // ppm (every g2 row survives: priorities live in [0, 1e6)). The kept g1
    // rows are exactly those whose portable md5 priority clears the rate —
    // recomputed here independently of Spark.
    val rows = Seq(1L -> "g1", 2L -> "g1", 3L -> "g1", 4L -> "g1",
      5L -> "g2", 6L -> "g2")
    val df = rows.toDF("k", "g")
    def prio(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hx = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hx, 16) % 1000000L
    }
    val expected = rows.filter { case (id, g) =>
      prio(id) < (if (g == "g1") 500000L else 1000000L) }.toSet
    val out = graft.corpus.Curation.sampleToBalanced(df, "k", "g")
      .as[(Long, String)].collect().toSet
    assert(out === expected)
    assert(rows.filter(_._2 == "g2").toSet.subsetOf(out))
  }

  test("target-weighted sampling: T capped by the scarcest group, ppm rates exact") {
    // g1: 6 rows at 50% target, g2: 2 rows at 50% target.
    // T = min(6e6/5e5, 2e6/5e5) = 4; required = 2 from each;
    // rate(g1) = 2e6//6 = 333333 ppm, rate(g2) = 1000000 (keep all).
    val rows = (1L to 6L).map(_ -> "g1") ++ Seq(7L -> "g2", 8L -> "g2")
    val df = rows.toDF("k", "g")
    def prio(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hx = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hx, 16) % 1000000L
    }
    val expected = rows.filter { case (id, g) =>
      prio(id) < (if (g == "g1") 333333L else 1000000L) }.toSet
    val out = graft.corpus.Curation.sampleToTarget(df, "k", "g",
        Map("g1" -> 500000L, "g2" -> 500000L))
      .as[(Long, String)].collect().toSet
    assert(out === expected)
    assert(Set(7L -> "g2", 8L -> "g2").subsetOf(out))
  }

  test("repetition metrics: distinct-token and duplicate-bigram ppm, hand-computed") {
    // "a a a b": 4 tokens / 2 distinct → 500000 ppm; bigrams
    // ["a a","a a","a b"]: 3 total / 2 distinct → dup = 1e6/3 = 333333
    val one = Seq((42L, "a a a b")).toDF("doc_id", "text")
    val docsDir = java.nio.file.Files
      .createTempDirectory("q84fix").toString
    one.write.mode("overwrite").parquet(s"$docsDir/documents.parquet")
    val out = SparkEntry.queries("q84_repetition")(spark, docsDir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq((42L, 500000L, 333333L)))
  }

  test("corpus build: block map tiles the concatenated token stream exactly") {
    // q82 = q74 survivors → decontaminate → mixture-sample → pack; the SQL
    // oracle pins the values, this pins the geometric invariants: doc spans
    // are contiguous in doc_id order from 0, and every 256-token block a
    // span touches appears exactly once for it.
    val out = SparkEntry.queries("q82_corpus_build")(spark, dir)
      .select("pack_id", "doc_id", "start_tok", "end_tok")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    val spans = out.map { case (_, id, st, en) => (id, st, en) }.distinct
      .sortBy(_._2)
    assert(spans.head._2 === 0L)
    spans.sliding(2).foreach { case Array((_, _, en), (_, st2, _)) =>
      assert(st2 === en) // contiguous, no gaps or overlaps
    case _ => () }
    assert(spans.map(_._1).sorted === spans.map(_._1)) // doc_id order
    out.groupBy(r => (r._2, r._1)).foreach { case (_, rs) =>
      assert(rs.length === 1) } // (doc, block) appears once
    out.foreach { case (p, _, st, en) =>
      assert(p >= st / 256 && p <= (en - 1) / 256) }
  }

  test("a query group builds each shared artifact once, and releaseShared frees them all") {
    val sc = spark.sparkContext
    // groups of queries that share persisted or checkpointed artifacts
    val groups = Seq(
      Seq("q74_curation", "q82_corpus_build"),
      // the shared dictionary is an eager checkpoint under all of these
      Seq("q14_vocab", "q15_bow", "q16_tfidf", "q44_lsa", "q49_pca",
        "q52_lda", "q55_lda_perplexity", "q56_topic_corr"),
      // the component labels are connectedComponents' own last round
      Seq("q77_dup_components"),
      // nested builds from cold: q70's result reads the IVF assignment,
      // which reads the quantizer, which reads the KMeans fit; q55's
      // scalars read q52's doc-topic frame, which reads the LDA fit
      Seq("q70_ann_ivf", "q55_lda_perplexity"),
      // the full sweep
      SparkEntry.queries.keys.toSeq.sorted)
    // getPersistentRDDs holds its RDDs weakly, so the run keeps every
    // returned frame reachable: an RDD nothing frees cannot drop out of
    // the map by being collected before the check
    def run(group: Seq[String]) = group.map { q =>
      val df = SparkEntry.queries(q)(spark, dir); df.collect(); df
    }
    groups.foreach { group =>
      withClue(group.mkString("after ", ", ", ": ")) {
        SparkEntry.releaseShared(spark)
        val before = sc.getPersistentRDDs.keySet
        val first = run(group)
        val firstPass = sc.getPersistentRDDs.keySet
        assert((firstPass -- before).nonEmpty)
        val second = run(group)
        val rebuilt = sc.getPersistentRDDs -- firstPass
        assert(rebuilt.isEmpty, rebuilt.values.mkString("built twice: ", ", ", ""))
        SparkEntry.releaseShared(spark)
        val left = sc.getPersistentRDDs -- before
        assert(left.isEmpty, left.values.mkString("still persisted: ", ", ", ""))
        java.lang.ref.Reference.reachabilityFence((first, second))
      }
    }
  }

  test("every query has a DuckDB oracle except the two exported fits") {
    assert(SparkEntry.oracleSql.keySet ===
      SparkEntry.queries.keySet -- Set("q60_word_vectors", "q65_lsa_model"))
  }
}
