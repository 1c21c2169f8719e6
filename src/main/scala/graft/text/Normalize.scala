package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** P1–P8 — the per-document token normalization pipeline (SURVEY.md §2.2),
  * re-expressed as a `Column => Column` library. The reference implements
  * these as per-doc Python functions mapped over the corpus under an
  * `mp.Pool` (reference: modules/main_corpus_processing.py:24-61,104-140);
  * here every stage is a codegen'd built-in or higher-order function — one
  * narrow projection, no shuffle, no UDF (north_star policy, SURVEY.md §2.9).
  */
object Normalize {

  /** P1 — ASCII fold (reference: unidecode, main_corpus_processing.py:31).
    * Deterministic small fold map for Latin-1/Latin-Extended accents via
    * `translate` (codegen'd char map — exactly the semantics the fixture
    * oracle pins; SURVEY.md §7 "hard parts" (a)). */
  val FoldFrom = "àáâãäåèéêëìíîïòóôõöùúûüçñýÿÀÁÂÃÄÅÈÉÊËÌÍÎÏÒÓÔÕÖÙÚÛÜÇÑÝ"
  val FoldTo   = "aaaaaaeeeeiiiiooooouuuucnyyAAAAAAEEEEIIIIOOOOOUUUUCNY"
  def asciiFold(c: Column): Column = translate(c, FoldFrom, FoldTo)

  /** Every [[FoldFrom]] character at least once, shaped to SURVIVE the full
    * P1–P8 pipeline: chars grouped in (≤3)-char clusters interleaved with
    * 'x', so each folded token has length 3–5, no aaa-style triple run, and
    * is no stopword. The fixture corpus is ASCII-clean, which left P1
    * running as IDENTITY in every other green gate row —
    * q67/q68 prepend this sentence on BOTH engine and oracle sides (the
    * oracle mirrors the fold with DuckDB `translate` over the same map), so
    * the fold finally folds under the gate. */
  val FoldCoverageSentence: String =
    FoldFrom.grouped(3).map(_.mkString("x")).mkString(" ")

  /** P2 — delete punctuation, digits and newlines (NO space inserted — the
    * reference uses str.translate-delete, main_corpus_processing.py:34),
    * then lowercase. */
  def stripPunctDigits(c: Column): Column =
    lower(regexp_replace(c, "[\\p{Punct}0-9\\n\\r]", ""))

  /** P8 — whitespace tokenize (reference: .split(),
    * modules/k_means_approach.py:62), dropping empty tokens that
    * leading/trailing/double whitespace would produce. */
  def tokenize(c: Column): Column =
    filter(split(c, "\\s+"), t => length(t) > 0)

  /** P5 — token length filter: keep 3 <= len < 15
    * (reference: main_corpus_processing.py:43; sub-corpus variant drops the
    * upper bound, sub_corpus_processing.py:44). */
  def lengthFilter(tokens: Column, min: Int = 3, max: Int = 15): Column =
    filter(tokens, t => length(t) >= min && length(t) < max)

  /** P6 — triple-repeat filter: drop tokens containing any aaa…zzz run
    * (reference: main_corpus_processing.py:46-47 scans all 26 triples; a
    * backreference regex is the equivalent single pass). */
  def tripleFilter(tokens: Column): Column =
    filter(tokens, t => !t.rlike("([a-z])\\1\\1"))

  /** P7 — stopword removal against a broadcast-literal stoplist
    * (reference: gensim STOPWORDS ∪ NLTK ∪ domain list,
    * main_corpus_processing.py:50-59). `array_except` also dedups — matching
    * gensim's set semantics is NOT wanted here, so we use a per-element
    * filter to preserve duplicates and order. */
  def stopFilter(tokens: Column, stops: Seq[String]): Column = {
    val stopArr = array(stops.map(lit): _*)
    filter(tokens, t => !array_contains(stopArr, t))
  }

  /** P3/P4 — lemma lookup via a broadcast map literal
    * (reference: spaCy lemmatization, main_corpus_processing.py:37-40; the
    * fixture defines the lemma table, SURVEY.md P3). Tokens absent from the
    * table pass through unchanged. */
  def lemmaLookup(tokens: Column, lemmas: Map[String, String]): Column = {
    if (lemmas.isEmpty) tokens
    else {
      val m = map(lemmas.flatMap { case (k, v) => Seq(lit(k), lit(v)) }.toSeq: _*)
      transform(tokens, t => coalesce(element_at(m, t), t))
    }
  }

  /** P4 — POS-filtered lemmatization (reference: spaCy lemmas kept only for
    * an allowed POS set, modules/main_corpus_processing.py:64-101): the
    * lexicon maps token → (lemma, pos); a token is kept iff its POS — from
    * the lexicon, else `defaultPos` — is in `allowed`, and surviving tokens
    * are replaced by their lemma (identity for unknown tokens). Broadcast
    * map literals, order/duplicate-preserving like [[stopFilter]]. */
  def lemmaLookupPos(tokens: Column, lexicon: Map[String, (String, String)],
                     allowed: Set[String],
                     defaultPos: String = "NOUN"): Column = {
    if (lexicon.isEmpty) {
      if (allowed.contains(defaultPos)) tokens
      else array().cast("array<string>")
    } else {
      val lemmaMap = map(lexicon.flatMap { case (k, (l, _)) => Seq(lit(k), lit(l)) }.toSeq: _*)
      val posMap = map(lexicon.flatMap { case (k, (_, p)) => Seq(lit(k), lit(p)) }.toSeq: _*)
      val allowArr = array(allowed.toSeq.sorted.map(lit): _*)
      transform(
        filter(tokens, t =>
          array_contains(allowArr, coalesce(element_at(posMap, t), lit(defaultPos)))),
        t => coalesce(element_at(lemmaMap, t), t))
    }
  }

  /** Default English-ish stoplist (small, deterministic — config, per
    * SURVEY.md P7 "stoplist is config"). */
  val DefaultStops: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "for",
    "on", "with", "as", "at", "by", "be", "this", "that", "are", "was")

  /** The full P1→P7 chain as one composed column (token array out).
    *
    * Lemma-free case (every production call site): the four per-element
    * filter stages (tokenize's non-empty check, length, triple-run,
    * stopword) are FUSED into ONE `filter` pass — Spark's higher-order
    * functions run interpreted with a fresh array materialized per stage,
    * so the chained spelling paid 4 array rebuilds per row for one
    * conjunction of per-element predicates (kept tokens, order and duplicates are identical by construction — the
    * non-empty check is subsumed by length >= min, and `And` short-
    * circuits so short tokens never reach the regex). With lemmas the
    * original staged chain is kept: the rewrite happens between tokenize
    * and the filters, so the stages cannot fuse. */
  def pipeline(text: Column,
               stops: Seq[String] = DefaultStops,
               lemmas: Map[String, String] = Map.empty): Column = {
    if (lemmas.isEmpty)
      // native one-pass kernel; [[pipelineComposed]] stays the
      // readable reference semantics, pinned equal by NormalizeSpec
      NormalizeTokensExpr.pipeline(text, stops)
    else {
      val t0 = tokenize(stripPunctDigits(asciiFold(text)))
      val t1 = lemmaLookup(t0, lemmas)
      val t2 = lengthFilter(t1)
      val t3 = tripleFilter(t2)
      stopFilter(t3, stops)
    }
  }

  /** The composed (built-ins/HOF) spelling of the lemma-free [[pipeline]]
    * — kept as the cross-check target for [[NormalizeTokensExpr]]
    * (NormalizeSpec pins native ≡ composed; the fused single `filter`
    * conjunction is itself equivalent to the staged chain: every stage is
    * a per-element predicate and `And` short-circuits). */
  def pipelineComposed(text: Column,
                       stops: Seq[String] = DefaultStops): Column = {
    val stopArr = array(stops.map(lit): _*)
    filter(split(stripPunctDigits(asciiFold(text)), "\\s+"), t =>
      length(t) >= 3 && length(t) < 15 &&
        !t.rlike("([a-z])\\1\\1") && !array_contains(stopArr, t))
  }
}
