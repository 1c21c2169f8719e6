package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic transcript corpora.
  *
  * Two generators, both pure functions of their inputs (TESTDATA rule: no
  * external data; FIXTURES.md "Generator"):
  *
  *  - [[fromDocuments]] derives a transcripts table from the driver-provided
  *    `documents.parquet`, wrapping each document's text in one of four
  *    deterministic payload shapes (markup / markup+aside / pseudo-PDF
  *    layout / tool JSON). Because the wrapping is injective and the content
  *    is exactly the document text, the expected extraction is expressible
  *    in ANSI SQL over the same table — giving the driver's DuckDB gate a
  *    bit-exact oracle for the FULL extraction kernel (north_rule: per-turn
  *    text equality).
  *
  *  - [[synthetic]] manufactures an arbitrary-size corpus from `spark.range`
  *    for benchmarks and skew tests — fully distributed, no driver-side data,
  *    size-independent of any input file. Payload content is derived from
  *    the row id with cheap arithmetic so generation never bottlenecks the
  *    measurement of the extraction kernel itself.
  */
object Transcripts {

  /** Number of conversations the documents corpus is folded into. Prime, so
    * conv sizes stay balanced for any doc count. */
  val ConvFold = 97

  // The four payload shapes. Kept structurally simple on purpose: the ORACLE
  // (DuckDB SQL in SparkEntry.oracleSql) must be able to state the expected
  // extraction, while the ENGINE must recover it with the generic lexer —
  // the engine never sees these constants.
  private val NavChrome =
    """<nav><a href="#">home</a> <a href="#">docs</a> <a href="#">about</a></nav>"""
  private val FooterChrome = """<footer>(c) 2024 graft corp &amp; co</footer>"""
  private val AsideChrome = """<aside><a href="#">ad one</a> <a href="#">ad two</a></aside>"""
  private val HeaderChrome = """<header><h1>Results</h1></header>"""

  /** Build the transcripts table from `documents.parquet` in `dir`.
    * Columns: (conv_id string, turn_idx int, role string, text string,
    * tool string, ts timestamp) — BASELINE.json:input_hint shape. */
  def fromDocuments(spark: SparkSession, dir: String): DataFrame =
    fromDocs(spark, dir, payload)

  /** The shared document→turn mapping; `wrap` supplies the payload shell
    * ([[payload]] or [[adversarialPayload]]) so the two generators cannot
    * diverge on conv_id folding / role / tool / ts. */
  private def fromDocs(spark: SparkSession, dir: String,
                       wrap: (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
                         => org.apache.spark.sql.Column): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    docs.select(
      concat(lit("c"), lpad((col("doc_id") % ConvFold).cast("string"), 4, "0")).as("conv_id"),
      (col("doc_id") / ConvFold).cast("int").as("turn_idx"),
      expr("element_at(array('user','assistant','tool'), cast(doc_id % 3 as int) + 1)").as("role"),
      wrap(col("doc_id"), col("text")).as("text"),
      when(col("doc_id") % 3 === 2, lit("search")).otherwise(lit(null)).cast("string").as("tool"),
      (lit(1704067200L) + col("doc_id")).cast("timestamp").as("ts")
    )
  }

  /** The deterministic wrapping: shape = doc_id % 4.
    * 0: nav + content div + footer
    * 1: header + aside + content div + footer
    * 2: pseudo-PDF layout — text split into 8-token lines "x y text"
    * 3: tool JSON {"tool":"search","status":"ok","result":"<text>"}
    * All shapes extract back to exactly the document text. */
  def payload(docId: org.apache.spark.sql.Column, text: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val shape = docId % 4
    when(shape === 0,
      concat(lit(NavChrome + "<div class=\"content\"><p>"), text,
        lit("</p></div>" + FooterChrome)))
    .when(shape === 1,
      concat(lit(HeaderChrome + AsideChrome + "<div class=\"content\"><p>"), text,
        lit("</p></div>" + FooterChrome)))
    .when(shape === 2, layoutPayload(text))
    .otherwise(
      concat(lit("""{"tool":"search","status":"ok","result":""""), text,
        lit("\"}")))
  }

  /** Shape 2: "%PDFISH\n" then lines `10 <y> <eight tokens>` with y = 10,
    * 20, 30… in reading order. Token text contains no newlines/quotes by
    * construction (documents.text is space-joined words). The SQL oracle
    * for this shape is simply the original text, because reading-order
    * reassembly re-joins the 8-token chunks with single spaces. */
  private def layoutPayload(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // split into words, chunk by 8, emit "10 {10*(i+1)} chunk" lines
    val words = split(text, " ")
    val lastChunk = floor((size(words) - lit(1)) / lit(8)).cast("int")
    val lines = array_join(
      transform(sequence(lit(0), lastChunk), i =>
        concat(lit("10 "), ((i + lit(1)) * lit(10)).cast("string"), lit(" "),
          array_join(slice(words, i * lit(8) + lit(1), lit(8)), " "))),
      "\n")
    concat(lit("%PDFISH\n"), lines)
  }

  // ----------------------------------------------------------- adversarial

  /** [[fromDocuments]]'s twin with ADVERSARIAL payload shells: every shape
    * walks the lexer's hardened edge paths (LexerSpec pins them; this
    * generator also puts them under the DuckDB oracle gate via q59) while
    * still extracting to EXACTLY the document text, so
    * the oracle stays `SELECT … text FROM documents`:
    *
    *  0: doctype; comment decoys containing fake content markup; the HTML5
    *     complete comments `<!-->` / `<!---->`; unquoted attributes; a
    *     quoted `>` inside an attribute ON THE CONTENT DIV (observable —
    *     a broken tag scan would leak `y">` into the extracted text)
    *  1: CDATA decoy with fake content markup INSIDE nav (literal text in
    *     a chrome path — a lexer that parsed CDATA contents as markup would
    *     surface the decoy as content); numeric + astral entity refs and a
    *     lone-surrogate ref (&#xD800;) in chrome text
    *  2: layout lines in REVERSE y order (reading-order sort must restore
    *     the original text) plus a coordinate-less junk line and a blank
    *     line, both skipped
    *  3: tool JSON with a value-position "result" decoy before the real
    *     key, whitespace around the key's colon, and trailing decoy fields
    */
  def fromDocumentsAdversarial(spark: SparkSession, dir: String): DataFrame =
    fromDocs(spark, dir, adversarialPayload)

  /** [[fromDocuments]] with every document's text prefixed by `prefix` + one
    * space BEFORE the payload wrapping — the vehicle for putting
    * NON-ASCII text through the full extraction kernel under the driver
    * gate (q68): the fixture corpus is ASCII-clean, so without this the
    * lexer's multi-byte handling ran spec-only. `prefix` must contain no
    * newline/quote/backslash (it enters shape 2's line chunking and shape
    * 3's JSON string); expected extraction = `prefix + " " + text`. */
  def fromDocumentsPrefixed(spark: SparkSession, dir: String,
                            prefix: String): DataFrame = {
    require(!prefix.exists(c => c == '\n' || c == '"' || c == '\\'),
      "prefix must be newline/quote/backslash-free (shape 2/3 payload safety)")
    fromDocs(spark, dir, (id, text) =>
      payload(id, concat(lit(prefix + " "), text)))
  }

  // shape 0's content <p> opens with a SELF-CLOSED anchor: a lexer whose
  // link scope leaked would count the whole text as link
  // chars and misclassify the content block chrome — observable as an empty
  // extraction, not just a feature wobble
  private val Adv0Pre =
    """<!DOCTYPE html><!-- <div class="content"><p>comment decoy</p></div> --><!-->""" +
      """<nav><a href=# id=x>home</a> <a href=#>docs</a></nav>""" +
      """<div class=content title="x > y"><p><a href=# />"""
  private val Adv0Post =
    """</p></div><!----><footer>(c) 2024 &amp; co</footer>"""
  private val Adv1Pre =
    """<?xml version="1.0"?><header title="a > b"><h1>Results</h1></header>""" +
      """<nav><![CDATA[<div class="content"><p>cdata decoy</p></div>]]> """ +
      """<a href="#">&#104;ome &#x1F600;</a></nav><div class="content"><p>"""
  private val Adv1Post =
    """</p></div><footer>&#65;&#66; &lt;end&gt; &#xD800;</footer>"""

  /** The adversarial wrapping: shape = doc_id % 4, same key mapping as
    * [[payload]], expected extraction = the unwrapped text for EVERY shape. */
  def adversarialPayload(docId: org.apache.spark.sql.Column,
                         text: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val shape = docId % 4
    when(shape === 0, concat(lit(Adv0Pre), text, lit(Adv0Post)))
      .when(shape === 1, concat(lit(Adv1Pre), text, lit(Adv1Post)))
      .when(shape === 2, adversarialLayout(text))
      .otherwise(concat(
        lit("""{"tool":"search","msg":"result","status":"ok","result" : """"),
        text, lit("\",\"tail\":\"ok\"}")))
  }

  /** Shape 2 adversarial: same 8-token chunking as [[layoutPayload]] but the
    * lines are EMITTED in reverse y order behind a junk line and a blank
    * line — reading-order recovery (sort by y, x) must reconstitute the
    * original chunk order. */
  private def adversarialLayout(text: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val words = split(text, " ")
    val lastChunk = floor((size(words) - lit(1)) / lit(8)).cast("int")
    val lines = array_join(
      transform(sequence(lastChunk, lit(0), lit(-1)), i =>
        concat(lit("10 "), ((i + lit(1)) * lit(10)).cast("string"), lit(" "),
          array_join(slice(words, i * lit(8) + lit(1), lit(8)), " "))),
      "\n")
    concat(lit("%PDFISH\nnot a layout line\n\n"), lines, lit("\n"))
  }

  /** Arbitrary-scale synthetic corpus for bench/skew runs: `nTurns` rows,
    * `turnsPerConv` turns per conversation, optional skew (conversation 0
    * receives `skewFactor` × the normal turn count — FIXTURES.md skew tier).
    * Text payload cycles through the same four shapes with generated word
    * content (id-derived, ~40 tokens/turn). */
  def synthetic(spark: SparkSession, nTurns: Long, turnsPerConv: Int = 20,
                skewFactor: Int = 1): DataFrame = {
    val base = spark.range(nTurns).toDF("id")
    val conv =
      if (skewFactor <= 1) (col("id") / turnsPerConv).cast("long")
      else
        // first skewFactor*turnsPerConv rows all land in conversation 0
        when(col("id") < lit(skewFactor.toLong * turnsPerConv), lit(0L))
          .otherwise((col("id") / turnsPerConv).cast("long"))
    val words = expr(
      // 40 pseudo-words over a 65536-word id-seeded space; pure arithmetic,
      // no RNG (Date/rand would break deterministic resume). The wide word
      // space keeps parquet dictionary compression realistic — a 64-word
      // vocabulary compressed 30:1 and made bench scans unrealistically
      // tiny relative to the decoded work.
      """
      array_join(
        transform(sequence(0, 39),
          i -> concat('w', translate(hex(pmod(id * 2654435761 + i * 2246822519, 65536)),
                                     '0123456789', 'ghijklmnop'))),
        ' ')
      """)
    base
      .withColumn("conv", conv)
      // 14-digit pad: Spark lpad TRUNCATES longer strings, so an 8-wide pad
      // would silently COLLIDE conv_ids once conv counts pass 10^8 —
      // breaking (conv_id, turn_idx) uniqueness exactly at the advertised
      // 10^12-turn scale. 14 digits covers 10^14 convs.
      .withColumn("conv_id", concat(lit("c"), lpad(col("conv").cast("string"), 14, "0")))
      .withColumn("turn_idx",
        when(col("conv") === 0, col("id")).otherwise((col("id") % turnsPerConv)).cast("int"))
      .withColumn("role",
        expr("element_at(array('user','assistant','tool'), cast(id % 3 as int) + 1)"))
      .withColumn("doc_text", words)
      .withColumn("text", payload(col("id"), col("doc_text")))
      .withColumn("tool",
        when(col("id") % 3 === 2, lit("search")).otherwise(lit(null)).cast("string"))
      .withColumn("ts", (lit(1704067200L) + col("id")).cast("timestamp"))
      .select("conv_id", "turn_idx", "role", "text", "tool", "ts", "doc_text")
  }
}
