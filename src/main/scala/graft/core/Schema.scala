package graft.core

import java.sql.Timestamp
import org.apache.spark.sql.types._

/** Core data model of the transcript-extraction engine.
  *
  * Input row shape per BASELINE.json:input_hint — an Iceberg/parquet table of
  * multi-turn conversation / agent transcripts. Identity is the composite key
  * `(conv_id, turn_idx)`; ordering within a conversation is load-bearing
  * (the reference ties doc identity to list position,
  * reference: src/doc_classification.py:117-131 — we replace positional
  * identity with explicit keys, SURVEY.md §1).
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp
)

object Turn {
  /** The declared schema of a transcripts table, in [[Turn]]'s field
    * order. Jobs and streams read their input with it: no schema-inference
    * job runs, and an input whose column types differ fails the read
    * instead of flowing on under other types. */
  val schema: StructType = StructType(Seq(
    StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
    StructField("role", StringType), StructField("text", StringType),
    StructField("tool", StringType), StructField("ts", TimestampType)))
}

/** A span of extracted content, with [start, end) character offsets into the
  * ORIGINAL turn payload (reference analog: spaCy sentence spans,
  * src/spacy_test.py:30-42). */
final case class Span(start: Int, end: Int, label: String)

/** Output row: extracted main content + span offsets, keyed like the input.
  * Reference analog: the `.txt` sibling emitted by the OCR kernel
  * (modules/image_ocr.py:29-36) — but keyed and auditable. */
final case class ExtractedTurn(
    conv_id: String,
    turn_idx: Int,
    text: String,
    spans: Seq[Span]
)

/** One lexed block of a turn payload (E1 in SURVEY.md §2.4): a run of text
  * inside one block-level container, with char offsets into the original
  * payload plus densitometric raw counts used by the E2/E3 classifier and
  * the E4 scorer.
  *
  *  - `tag`      innermost block-level container tag ("" for bare text)
  *  - `path`     '/'-joined open block-tag stack (chrome detection looks here)
  *  - `text`     concatenated text content of the block (entities decoded)
  *  - `start`/`end` offsets of the block's text region in the raw payload
  *  - `nTags`    inline tags seen inside the block
  *  - `nLinks`   <a> tags seen inside the block
  *  - `linkChars` chars of text that sit inside <a>...</a>
  *  - `nWords`   whitespace-delimited words in `text`
  *  - `nStops`   of those, hits in the shared stoplist (case-folded)
  *  - `nDigits`  digit chars in `text`
  */
final case class Block(
    tag: String,
    path: String,
    text: String,
    start: Int,
    end: Int,
    nTags: Int,
    nLinks: Int,
    linkChars: Int,
    nWords: Int,
    nStops: Int,
    nDigits: Int
)

object Block {
  /** Stopword set the E4 scorer's stop_ratio feature counts against — the
    * one shared stoplist, graft.text.Normalize.DefaultStops, so the
    * scorer's weights and the text operators mean the same stopwords. */
  val Stops: Set[String] = graft.text.Normalize.DefaultStops.toSet

  /** Longest stopword — words longer than this skip the substring/lowercase
    * allocation in [[make]] entirely (every default stop is ≤ 4 chars, so
    * typical content words cost zero allocations). */
  private val MaxStopLen: Int = Stops.map(_.length).max

  /** Construct a block, deriving the scorer's text statistics (words,
    * stopword hits, digit chars) in ONE extra pass over the block text.
    * The lexer already touches every char, so computing these here is
    * nearly free — versus 3 regex/split expression passes per block when
    * spelled in SQL (measured: 4× whole-kernel slowdown of the scored
    * pipeline).
    *
    * `stats = false` skips that pass (fields emitted as 0): the PLAIN rule
    * kernel (E3, the headline bench path) never reads nWords/nStops/nDigits
    * — its decision is pathChrome + length + link density — so the stats
    * scan plus its per-short-word substring/lowercase allocations were pure
    * waste on the hottest path (the scored kernel and the exported block
    * struct keep stats = true). */
  def make(tag: String, path: String, text: String, start: Int, end: Int,
           nTags: Int, nLinks: Int, linkChars: Int,
           stats: Boolean = true): Block = {
    if (!stats)
      return Block(tag, path, text, start, end, nTags, nLinks, linkChars,
        0, 0, 0)
    var words = 0; var stops = 0; var digits = 0
    val n = text.length
    var i = 0; var wordStart = -1
    while (i <= n) {
      val atWs = i == n || Character.isWhitespace(text.charAt(i))
      if (!atWs) {
        if (wordStart < 0) wordStart = i
        val c = text.charAt(i)
        if (c >= '0' && c <= '9') digits += 1
      } else if (wordStart >= 0) {
        words += 1
        // Locale.ROOT: under e.g. tr-TR the default locale lowercases 'I'
        // to dotless-i, silently changing nStops across environments —
        // Spark's lower() and DuckDB are locale-free.
        if (i - wordStart <= MaxStopLen &&
            Stops.contains(text.substring(wordStart, i)
              .toLowerCase(java.util.Locale.ROOT))) stops += 1
        wordStart = -1
      }
      i += 1
    }
    Block(tag, path, text, start, end, nTags, nLinks, linkChars,
      words, stops, digits)
  }
}
