package graft

import graft.text.Normalize
import graft.textstats.{TextStats, TextStatsExprs}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-7 native one-pass kernels bit-equal to their composed
  * Column spellings (the UDx-policy cross-check, the ExtractSpec pattern):
  * every payload family that can stress a divergence — unicode incl.
  * astral + combining chars, the full \s class incl. vertical tab, punct/
  * digit density extremes, stopword-heavy text, empty strings, and the
  * seeded-PII shapes q79 gates — must score and redact identically. */
class TextStatsExprsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val cases = Seq(
    "",
    " ",
    "\t\n\f\r",
    "the quick brown fox and a dog",
    "THE AND OF TO IS IT", // stops only via lowercase
    "a.b,c;d:e!f?g(h)i[j]k{l}m<n>o@p#q$r%s^t&u*v",
    "1234567890 42 007",
    "word " * 100,
    "tok1 tok2\ttok3\ntok4tok5\ftok6\rtok7",
    "café naïve über straße",
    "İstanbul Iı TITLE", // dotted/dotless i lowercase paths
    "🙂🙂 astral 😀 pair", // surrogates
    "x" * 300,
    "contact a17@ex3.com ip 10.0.17.17 key " +
      "00000000000000000000000000abcdef acct 000000017 tail text",
    "double a@b.co c@d.org ips 1.2.3.4 5.6.7.8 hex " +
      "ABCDEFABCDEFABCDEFABCDEFABCDEFAB nums 1234567 89012345",
    "no pii here at all",
    "123.456.789.012 borderline 1.2.3.4567 deadbeefdeadbeefdeadbeefdeadbee") // 31 hex chars

  test("quality_score_ppm native ≡ composed on every stress family") {
    import spark.implicits._
    val df = cases.toDF("text")
    val got = df.select(
      TextStatsExprs.qualityScorePpm(col("text"), Normalize.DefaultStops)
        .as("native"),
      TextStats.qualityScorePpm(col("text"), Normalize.DefaultStops)
        .as("composed")).collect()
    got.zip(cases).foreach { case (r, c) =>
      assert(r.getLong(0) == r.getLong(1),
        s"quality mismatch on '${c.take(60)}': native=${r.getLong(0)} composed=${r.getLong(1)}")
    }
  }

  test("q19's shared tokenize counts what wsTokenCount counts") {
    import spark.implicits._
    val edges = Seq("\u0130" -> 1, "\t\t\n\n\t\r\n" -> 0,
      "  lead and trail \t" -> 3, "" -> 0)
    val texts = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("text").union((edges.map(_._1) ++ cases).toDF("text"))
    val counts = texts.select(col("text"),
      TextStats.wsTokenCount(col("text")).as("ws"),
      size(Normalize.tokenize(lower(col("text")))).as("q19")).collect()
    assert(counts.length > edges.length + cases.length)
    counts.foreach { r =>
      assert(r.getInt(1) === r.getInt(2), s"on '${r.getString(0).take(60)}'")
    }
    val byText = counts.map(r => r.getString(0) -> r.getInt(2)).toMap
    edges.foreach { case (text, n) => assert(byText(text) === n, s"on '$text'") }
  }

  test("quality_score_ppm native ≡ composed on the fixture corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val diff = docs.select(
      TextStatsExprs.qualityScorePpm(col("text"), Normalize.DefaultStops)
        .as("n"),
      TextStats.qualityScorePpm(col("text"), Normalize.DefaultStops)
        .as("c"))
      .filter(col("n") =!= col("c")).count()
    assert(diff == 0L)
  }

  test("redact_pii native ≡ composed on every stress family") {
    import spark.implicits._
    val df = cases.toDF("text")
    val got = df.select(
      TextStatsExprs.redactPii(col("text")).as("n"),
      TextStats.redactPii(col("text")).as("c")).collect()
    got.zip(cases).foreach { case (r, c) =>
      assert(r.getStruct(0).toString == r.getStruct(1).toString,
        s"redact mismatch on '${c.take(60)}': ${r.getStruct(0)} vs ${r.getStruct(1)}")
    }
  }

  test("redact_pii rules fire in order with the documented overlap rules") {
    import spark.implicits._
    // an all-digit 32-char blob is BOTH hexkey and numrun — hexkey wins
    // (fires first); the email's local digits never count as numruns
    val df = Seq("k 01234567890123456789012345678901 m a1234567@x.com")
      .toDF("text")
    val r = df.select(TextStatsExprs.redactPii(col("text")).as("r"))
      .select("r.redacted", "r.n_emails", "r.n_hexkeys", "r.n_ips",
        "r.n_numruns").collect()(0)
    assert(r.getString(0) == "k <HEX> m <EMAIL>")
    assert(r.getLong(1) == 1 && r.getLong(2) == 1 && r.getLong(3) == 0 &&
      r.getLong(4) == 0)
  }
}
