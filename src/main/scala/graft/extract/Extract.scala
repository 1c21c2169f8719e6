package graft.extract

import graft.core.{Block, Turn}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** E2–E6 — block featurization, content-vs-chrome classification, span
  * recovery and reassembly (SURVEY.md §2.4). The reference's analog is the
  * LDA/RF label assignment over whole documents
  * (reference: src/doc_classification.py:108-140, src/supervised.py:142-146);
  * here it is a Boilerpipe/Readability-style per-block decision re-expressed
  * as a UDF-free column pipeline (north_star): every feature and the final
  * rule is `org.apache.spark.sql.functions` higher-order-function math over
  * the lexed block array, so the whole stage stays inside whole-stage
  * codegen and needs no shuffle.
  *
  * Stage layout over a transcripts DataFrame (conv_id, turn_idx, role, text,
  * tool, ts):
  *
  *   1. [[lexed]]      — typed map through [[Lexer.lex]] (the only
  *                       non-columnar step; genuinely imperative parsing)
  *   2. [[classified]] — per-block features + chrome/content label, columnar
  *   3. [[extracted]]  — `text` = content blocks joined, `spans` = offsets,
  *                       columnar (`filter`/`transform`/`array_join`)
  */
object Extract {

  /** Tags/paths that are chrome by construction (densitometric shortcut —
    * the "tag-ratio heuristics" of the north_star). */
  val ChromePathRe = "(^|/)(nav|footer|header|aside)($|/)"

  /** Separator used when reassembling multi-block content. Layout lines are
    * rejoined with a single space (the generator splits on spaces), HTML
    * blocks likewise — byte-exactness is proven by the fixture oracle. */
  val JoinSep = " "

  /** Stage 1 (E1): attach the lexed block stream as a `blocks` column.
    * Runs partition-parallel; no shuffle. Implemented as a native Catalyst
    * expression ([[LexBlocksExpr]]) rather than a Scala UDF — the UDF's
    * reflection-encoder boundary cost ~2× on the whole kernel (measured;
    * cf. SURVEY.md §2.9 UDx policy: Expression beats UDF beats the rest). */
  def lexed(turns: DataFrame): DataFrame =
    turns.withColumn("blocks",
      LexBlocksExpr.lexBlocks(col("text"), col("role")))

  /** Stage 2 (E2+E3): per-block densitometric features and label, computed
    * with higher-order functions only.
    *
    * Label rule (threshold tier of E3; E4 neural scorer refines it):
    *   chrome  ⇐ path matches nav/footer/header/aside
    *   chrome  ⇐ link density > 0.5          (menus, button bars)
    *   chrome  ⇐ text length < 3, MARKUP-origin blocks only (stray
    *             separators; layout lines and tool results are positionally
    *             recovered content — a one-word trailing PDF line is real
    *             text, and dropping it broke per-turn equality on sf0.1
    *             docs whose last 8-token chunk is a single short word)
    *   content ⇐ otherwise
    */
  def classified(withBlocks: DataFrame): DataFrame = {
    withBlocks.withColumn(
      "blocks",
      expr(s"""
        transform(blocks, b -> named_struct(
          'tag', b.tag, 'path', b.path, 'text', b.text,
          'start', b.start, 'end', b.end,
          'nTags', b.nTags, 'nLinks', b.nLinks, 'linkChars', b.linkChars,
          'nWords', b.nWords, 'nStops', b.nStops, 'nDigits', b.nDigits,
          'text_len', length(b.text),
          'link_density', CASE WHEN length(b.text) = 0 THEN 1.0D
                               ELSE CAST(b.linkChars AS DOUBLE) / length(b.text) END,
          'tag_density', CASE WHEN length(b.text) = 0 THEN 1.0D
                              ELSE CAST(b.nTags AS DOUBLE) / length(b.text) END,
          'label', CASE
            WHEN b.path RLIKE '$ChromePathRe' THEN 'chrome'
            WHEN length(b.text) = 0 THEN 'chrome'
            WHEN CAST(b.linkChars AS DOUBLE) / length(b.text) > 0.5D THEN 'chrome'
            WHEN length(b.text) < 3 AND b.path NOT IN ('layout', 'tool') THEN 'chrome'
            ELSE 'content' END))
      """))
  }

  /** Stage 3 (E5+E6): reassemble extracted text from content blocks and emit
    * span offsets into the original payload. Pure column math. */
  def extracted(classifiedDf: DataFrame): DataFrame = {
    classifiedDf
      .withColumn("content_blocks", expr("filter(blocks, b -> b.label = 'content')"))
      .withColumn("extracted",
        expr(s"array_join(transform(content_blocks, b -> b.text), '$JoinSep')"))
      .withColumn("spans",
        expr("transform(content_blocks, b -> named_struct(" +
          "'start', b.start, 'end', b.end, 'label', b.label))"))
      .drop("content_blocks")
  }

  /** E2+E3+E4 — label the lexed blocks with the neural block scorer: a
    * logistic model over densitometric features evaluated per block as
    * broadcast-weight column math (graft.score.Scorer), in ONE transform
    * over the lexed block array. Structural chrome (nav/footer paths) stays
    * chrome; the rest is content iff the sigmoid score exceeds `threshold`.
    * Each block keeps its `score`. Pure higher-order-function math — zero
    * shuffles, codegen. The score expression is GENERATED from
    * Scorer.scoreSql, so the feature semantics (incl. the stoplist) cannot
    * drift from the definition the DefaultW weights were fit against. The
    * score is bound once per block via the single-element-array trick (a
    * named_struct field cannot reference a sibling; evaluating the score
    * twice instead measured 20% slower — exp() and the divisions dominate
    * the wrapper cost). */
  def scoreLabeled(withBlocks: DataFrame,
                   w: Seq[Double] = graft.score.Scorer.DefaultW,
                   b: Double = graft.score.Scorer.DefaultB,
                   threshold: Double = 0.5): DataFrame =
    withBlocks.withColumn(
      "blocks",
      expr(s"""
        transform(blocks, blk -> element_at(transform(
          array(${graft.score.Scorer.scoreSql("blk", w = w, b = b)}),
          sc -> named_struct(
            'tag', blk.tag, 'path', blk.path, 'text', blk.text,
            'start', blk.start, 'end', blk.end,
            'nTags', blk.nTags, 'nLinks', blk.nLinks, 'linkChars', blk.linkChars,
            'nWords', blk.nWords, 'nStops', blk.nStops, 'nDigits', blk.nDigits,
            'score', sc,
            'label', CASE
              WHEN blk.path RLIKE '$ChromePathRe' THEN 'chrome'
              WHEN sc > ${threshold}D THEN 'content'
              ELSE 'chrome' END)), 1))
      """))

  /** Full kernel: transcripts in → (conv_id, turn_idx, extracted, spans).
    * The hot path is the NATIVE fused expression ([[ExtractTurnExpr]]) —
    * one pass, no interpreted higher-order-function machinery, projection
    * stays in whole-stage codegen. [[pipelineComposed]] is the
    * built-ins-only expression of the same semantics, pinned equal by
    * ExtractSpec (and both answer to the same DuckDB oracle).
    * Quarantine semantics (reference: src/doc_classification.py:75-105 —
    * empty-BOW docs moved aside): rows whose payload yields zero content
    * blocks are NOT dropped; they surface with empty text so that
    * main ∪ quarantine reconciles with the input (FIXTURES.md family 8). */
  def pipeline(turns: DataFrame): DataFrame =
    turns.select(col("conv_id"), col("turn_idx"),
        ExtractTurnExpr.extractTurn(col("text"), col("role")).as("x"))
      .select(col("conv_id"), col("turn_idx"),
        col("x.text").as("text"), col("x.spans").as("spans"))

  /** The composed (built-ins/HOF) spelling of [[pipeline]] — kept as the
    * readable reference semantics and the cross-check target. */
  def pipelineComposed(turns: DataFrame): DataFrame =
    extracted(classified(lexed(turns)))
      .select(col("conv_id"), col("turn_idx"),
        col("extracted").as("text"), col("spans"))

  /** Full kernel with the E4 neural arbiter in the loop — native fused
    * expression. Same output contract as [[pipeline]]. */
  def scoredPipeline(turns: DataFrame,
                     w: Seq[Double] = graft.score.Scorer.DefaultW,
                     b: Double = graft.score.Scorer.DefaultB,
                     threshold: Double = 0.5): DataFrame =
    turns.select(col("conv_id"), col("turn_idx"),
        ExtractTurnExpr.extractTurnScored(col("text"), col("role"), w, b, threshold).as("x"))
      .select(col("conv_id"), col("turn_idx"),
        col("x.text").as("text"), col("x.spans").as("spans"))

  /** Composed (HOF) spelling of [[scoredPipeline]] — cross-check target. */
  def scoredPipelineComposed(turns: DataFrame,
                             w: Seq[Double] = graft.score.Scorer.DefaultW,
                             b: Double = graft.score.Scorer.DefaultB,
                             threshold: Double = 0.5): DataFrame =
    extracted(scoreLabeled(lexed(turns), w, b, threshold))
      .select(col("conv_id"), col("turn_idx"),
        col("extracted").as("text"), col("spans"))

  /** Rows that produced no content — the quarantine table (S13 analog),
    * with a reason column instead of a filesystem rename. */
  def quarantine(turns: DataFrame): DataFrame =
    pipeline(turns)
      .filter(col("text") === lit(""))
      .select(col("conv_id"), col("turn_idx"),
        lit("no_content_blocks").as("reason"))
}
