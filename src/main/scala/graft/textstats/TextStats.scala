package graft.textstats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * language ID, quality scoring, token counting, PII redaction. All are
  * narrow, UDF-free column pipelines — per-row math over one scan, so they
  * compose with the extraction kernel without extra stages or shuffles.
  */
object TextStats {

  /** Marker-token tables for the n-gram/stopword language-ID heuristic.
    * Deterministic and tiny — broadcast as literals into codegen. */
  val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "los"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "de" -> Seq("der", "die", "und", "das", "ein"),
    "zh" -> Seq("的", "是", "了", "在", "我")
  )

  /** Language-ID: count marker hits per language over the token array; the
    * language with the max hit count wins, ties broken lexicographically;
    * zero hits → "und". Expressed as aggregate() counts + greatest/when —
    * fully codegen'd. */
  def langId(tokens: Column): Column = {
    val langs = LangMarkers.keys.toSeq.sorted
    val hits: Seq[(String, Column)] = langs.map { l =>
      val markers = array(LangMarkers(l).map(lit): _*)
      l -> size(filter(tokens, t => array_contains(markers, t)))
    }
    val maxHits = greatest(hits.map(_._2): _*)
    // lexicographic winner among argmax: first lang (sorted) whose count == max
    val cascade = hits.foldLeft(Option.empty[Column]) { case (acc, (l, h)) =>
      val cond = (h === maxHits) && (maxHits > 0)
      acc match {
        case None    => Some(when(cond, l))
        case Some(c) => Some(c.when(cond, l))
      }
    }
    cascade.get.otherwise("und")
  }

  /** Scalar quality score in parts-per-million of [0,1]: linear blend of
    * feature penalties — the "quality scoring" stage of a pretraining-data
    * pipeline. Integer arithmetic throughout (scaled by 1e6, truncating
    * division) so the score is bit-identical across engines and runs —
    * float blends flip at rounding boundaries under different summation
    * orders, which breaks hash-stable dedup/filter decisions downstream. */
  def qualityScorePpm(text: Column, stops: Seq[String]): Column = {
    val len = greatest(length(text), lit(1)).cast("long")
    val punct = (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("long")
    val digits = (length(text) - length(regexp_replace(text, "[0-9]", ""))).cast("long")
    val toks = filter(split(lower(text), "\\s+"), t => length(t) > 0)
    val stopArr = array(stops.map(lit): _*)
    val stopHits = size(filter(toks, t => array_contains(stopArr, t))).cast("long")
    val nToks = greatest(size(toks), lit(1)).cast("long")
    val raw = lit(500000L) +
      floor(least(nToks, lit(64L)) * 300000L / 64L).cast("long") +
      floor(stopHits * 200000L / nToks).cast("long") -
      floor(punct * 500000L / len).cast("long") -
      floor(digits * 500000L / len).cast("long")
    greatest(lit(0L), least(lit(1000000L), raw))
  }

  /** Whitespace token count. */
  def wsTokenCount(text: Column): Column =
    size(filter(split(text, "\\s+"), t => length(t) > 0))

  // ----------------------------------------------------------- PII redaction

  /** The redaction pattern table — ORDER MATTERS and is part of the
    * contract: emails first (their local parts contain digit runs), then
    * long hex blobs (API keys/hashes — before digit runs, because an
    * all-digit 32-char blob is both), then IPv4 (its 1–3 digit octets are
    * too short for the digit-run rule but must not be half-eaten by it),
    * then standalone long digit runs (phone/account-shaped). Every pattern
    * is RE2-SAFE (plain character classes, `\b`, bounded repeats — no
    * lookaround, no backreferences) so Java regex (engine) and RE2
    * (DuckDB oracle) agree match-for-match. */
  val RedactionRules: Seq[(String, String, String)] = Seq(
    ("emails", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("hexkeys", "\\b[0-9a-fA-F]{32,}\\b", "<HEX>"),
    ("ips", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>"),
    ("numruns", "\\b[0-9]{7,}\\b", "<NUM>"))

  /** PII redaction pass — the curation stage that runs BEFORE any text
    * leaves the pipeline: emails, long hex blobs, IPv4s and long digit
    * runs replaced by typed placeholders, applied in [[RedactionRules]]
    * order. Each rule counts its matches on the text AS IT STANDS when the
    * rule fires (post-prior-redactions), so counts are well-defined under
    * overlap and identical cross-engine. Pure per-row column math — one
    * scan, no shuffle, composes with the extraction kernel. Returns
    * (redacted, n_emails, n_hexkeys, n_ips, n_numruns) as a struct. */
  def redactPii(text: Column): Column = {
    val (redacted, counts) = RedactionRules
      .foldLeft((text, Seq.empty[Column])) {
        case ((t, cs), (name, re, repl)) =>
          (regexp_replace(t, re, repl),
            cs :+ regexp_count(t, lit(re)).cast("long").as(s"n_$name"))
      }
    struct((redacted.as("redacted") +: counts): _*)
  }
}
