package graft

import graft.corpus.Packing
import graft.textstats.TextStats
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the corpus-assembly / curation operators behind q78 (sequence
  * packing) and q79 (PII redaction). */
class CorpusOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("packSpans: concat-and-split block map, straddlers span blocks") {
    // token counts (+1 EOS): doc 0 → 4, doc 1 → 3, doc 2 → 6, doc 3 → 2
    // concatenated stream: [0,4) [4,7) [7,13) [13,15); blocks of 8:
    // doc 2 straddles the [8) boundary → rows in packs 0 AND 1
    val docs = Seq(
      (0L, "a b c"), (1L, "d e"), (2L, "f g h i j"), (3L, "k")
    ).toDF("doc_id", "text")
    val got = Packing.packSpans(docs, "doc_id", "text", blockTokens = 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    val want = Set(
      (0L, 0L, 0L, 4L), (0L, 1L, 4L, 7L), (0L, 2L, 7L, 13L),
      (1L, 2L, 7L, 13L), (1L, 3L, 13L, 15L))
    assert(got === want)
  }

  test("packSpans: bucketed two-pass cumsum equals the single-pass answer") {
    // 100 docs with varying token counts; bucketSize 7 forces many buckets
    // and uneven bucket populations — the distributed prefix sum must land
    // on exactly the naive sequential running sum
    val docs = (0L until 100L)
      .map(i => (i, Seq.fill(1 + (i % 5).toInt)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Packing.packSpans(docs, "doc_id", "text",
        blockTokens = 16, bucketSize = 7)
      .as[(Long, Long, Long, Long)].collect().toSet
    var cum = 0L
    val want = (0L until 100L).flatMap { i =>
      val n = 2 + (i % 5) // tokens + EOS
      val st = cum; val en = cum + n; cum = en
      (st / 16 to (en - 1) / 16).map(p => (p, i, st, en))
    }.toSet
    assert(got === want)
    // spans tile the stream exactly: total span length == total tokens
    val dist = got.map { case (_, d, st, en) => (d, en - st) }
    assert(dist.toSeq.map(_._2).sum >= cum) // straddlers double-count
  }

  test("packSpansFromCounts: bucketSize 128 and 4096 give one block map over sf0.001") {
    // the bucket width only splits the prefix sum into passes, so the
    // curation chain can fix one width for every caller
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    def blocks(bucketSize: Long) = Packing.packSpansFromCounts(
        Packing.tokenCounts(docs, "doc_id", "text", bucketSize), "doc_id", 256)
      .as[(Long, Long, Long, Long)].collect()
    val narrow = blocks(128L)
    assert(narrow.length > docs.count()) // blocks straddle docs
    assert(narrow.toSet.size === narrow.length)
    assert(narrow.toSet === blocks(4096L).toSet)
  }

  test("redactPii: rules fire in order with per-rule counts") {
    val rows = Seq(
      (0L, "mail bob.smith+x@corp.example.org and carol@ex.io now"),
      (1L, "key deadbeefdeadbeefdeadbeefdeadbeef and 00000000000000000000000000000000 end"),
      (2L, "ip 10.0.0.1 and 192.168.255.12 acct 123456789 short 123456"),
      (3L, "clean text with no sensitive content at all")
    ).toDF("doc_id", "text")
    val got = rows.select(col("doc_id"),
        TextStats.redactPii(col("text")).as("r"))
      .select(col("doc_id"), col("r.redacted"), col("r.n_emails"),
        col("r.n_hexkeys"), col("r.n_ips"), col("r.n_numruns"))
      .as[(Long, String, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> t).toMap
    assert(got(0L)._2 === "mail <EMAIL> and <EMAIL> now")
    assert(got(0L)._3 === 2L)
    // the all-digit 32-char blob is HEX (rule order), never NUM
    assert(got(1L)._2 === "key <HEX> and <HEX> end")
    assert((got(1L)._4, got(1L)._6) === ((2L, 0L)))
    // octets survive the digit-run rule; the 9-digit acct does not, the
    // 6-digit number is below the run threshold
    assert(got(2L)._2 === "ip <IP> and <IP> acct <NUM> short 123456")
    assert((got(2L)._5, got(2L)._6) === ((2L, 1L)))
    assert(got(3L)._2 === "clean text with no sensitive content at all")
    assert((got(3L)._3, got(3L)._4, got(3L)._5, got(3L)._6) ===
      ((0L, 0L, 0L, 0L)))
  }
}
