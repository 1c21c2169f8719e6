package graft

import graft.corpus.Vocab
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** FIXTURES.md family 4: corpus engineered around the no_below/no_above cut
  * points; expected vocab/BOW computed by hand. */
class VocabSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  // 4 docs; df: common=4, mid=2, rare=1, half=2
  val docs = Seq(
    (0L, Seq("common", "mid", "rare", "common")),
    (1L, Seq("common", "mid")),
    (2L, Seq("common", "half")),
    (3L, Seq("common", "half"))
  ).toDF("doc_id", "tokens")

  /** The shared per-document term counts every vocab operator reads. */
  private def termCounts(d: org.apache.spark.sql.DataFrame) =
    Vocab.termCounts(Vocab.tokensLong(d, "doc_id", "tokens"), "doc_id")

  test("filter_extremes: no_below drops rare, no_above drops ubiquitous") {
    val tc = termCounts(docs)
    val vocab = Vocab.buildFromCounts(tc, nDocs = 4, noBelow = 2, noAbove = 0.75)
    val got = vocab.orderBy("id").as[(String, Long, Long)].collect().toSeq
    // common df=4 > 0.75*4=3 dropped; rare df=1 < 2 dropped.
    // survivors: half df=2, mid df=2 — tie on df, token asc → half id 0, mid id 1
    assert(got === Seq(("half", 0L, 2L), ("mid", 1L, 2L)))
  }

  test("deterministic ids are stable under repartitioning") {
    val v1 = Vocab.buildFromCounts(termCounts(docs.repartition(5)), 4, 1, 1.0)
      .orderBy("id").collect().toSeq
    val v2 = Vocab.buildFromCounts(termCounts(docs.repartition(2, col("doc_id"))),
      4, 1, 1.0).orderBy("id").collect().toSeq
    assert(v1 === v2)
  }

  test("bow counts duplicates within doc") {
    val tc = termCounts(docs)
    val vocab = Vocab.buildFromCounts(tc, 4, 1, 1.0)
    val bow = Vocab.bowFromCounts(tc, vocab, "doc_id")
    val commonId = vocab.filter(col("token") === "common").head().getLong(1)
    val d0 = bow.filter(col("doc_id") === 0 && col("token_id") === commonId)
      .head().getLong(2)
    assert(d0 === 2L) // "common" appears twice in doc 0
  }

  test("tfidf: idf = ln(N/df), sublinear tf = 1 + ln(tf)") {
    val tc = termCounts(docs)
    val vocab = Vocab.buildFromCounts(tc, 4, 1, 1.0)
    val plain = Vocab.tfidfFromCounts(tc, vocab, "doc_id", 4)
    val rareRow = plain.join(vocab.filter(col("token") === "rare")
        .select(col("id").as("token_id")), Seq("token_id"))
      .head()
    val tfidf = rareRow.getAs[Double]("tfidf")
    assert(math.abs(tfidf - 1.0 * math.log(4.0 / 1.0)) < 1e-12)
    val sub = Vocab.tfidfFromCounts(tc, vocab, "doc_id", 4, sublinear = true)
    val commonD0 = sub.join(vocab.filter(col("token") === "common")
        .select(col("id").as("token_id")), Seq("token_id"))
      .filter(col("doc_id") === 0).head().getAs[Double]("tfidf")
    assert(math.abs(commonD0 - (1 + math.log(2.0)) * math.log(4.0 / 4.0)) < 1e-12)
  }

  test("empty-doc detection (A6): docs contributing zero tokens") {
    val withEmpty = docs.union(Seq((4L, Seq.empty[String])).toDF("doc_id", "tokens"))
    val empty = withEmpty.filter(size(col("tokens")) === 0)
    assert(empty.select("doc_id").as[Long].collect().toSeq === Seq(4L))
  }
}
