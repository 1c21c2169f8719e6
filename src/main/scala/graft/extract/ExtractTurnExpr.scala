package graft.extract

import graft.core.Block
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The WHOLE per-turn kernel (E1 lex → E2/E3 classify [or E4 score] →
  * E5 spans → E6 reassembly) as ONE native expression:
  * `extract_turn(text, role)` → struct(text string,
  * spans array<struct<start,end,label>>).
  *
  * Why not compose built-ins? The composed pipeline (lex_blocks + transform
  * / filter / array_join) is kept — and spec-pinned equal — but Spark's
  * higher-order functions have no codegen: the per-block named_struct
  * rebuilds run interpreted and keep the projection out of whole-stage
  * codegen entirely (q30's executed plan shows the Project outside the
  * `*(1)` span). The kernel is the engine's headline throughput path at
  * 10^12 turns, which justifies the custom-Expression tier of the UDx
  * policy (SURVEY.md §2.9: compose > Expression > UDF). The classification
  * semantics here mirror Extract.classified / Scorer.scoreSql EXACTLY
  * (same operation order on doubles); ExtractSpec pins native ≡ composed
  * on every payload family.
  *
  * `scored = false`: rule tier (path-chrome, link-density > 0.5, len < 3).
  * `scored = true`:  path-chrome structural veto, then the E4 logistic
  *                   arbiter sigmoid(w·x + b) > threshold.
  */
case class ExtractTurnExpr(left: Expression, right: Expression,
                           scored: Boolean, w: Seq[Double], b: Double,
                           threshold: Double)
    extends BinaryExpression {

  override def dataType: DataType = ExtractTurnExpr.OutType
  override def nullable: Boolean = false
  override def prettyName: String = if (scored) "extract_turn_scored" else "extract_turn"

  @transient private lazy val wArr = w.toArray

  def kernel(text: UTF8String, role: UTF8String): InternalRow =
    ExtractTurnExpr.extractTurn(text, role, scored, wArr, b, threshold)

  override def eval(input: InternalRow): Any =
    kernel(left.eval(input).asInstanceOf[UTF8String],
      right.eval(input).asInstanceOf[UTF8String])

  override protected def nullSafeEval(t: Any, r: Any): Any =
    throw new IllegalStateException("eval is overridden")

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    val self = ctx.addReferenceObj("extractTurnExpr", this)
    val rowCls = classOf[InternalRow].getName
    ev.copy(
      code = code"""
        ${leftGen.code}
        ${rightGen.code}
        $rowCls ${ev.value} = $self.kernel(
          ${leftGen.isNull} ? null : ${leftGen.value},
          ${rightGen.isNull} ? null : ${rightGen.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ExtractTurnExpr =
    copy(left = newLeft, right = newRight)
}

object ExtractTurnExpr {

  val SpanStructType: StructType = StructType(Seq(
    StructField("start", IntegerType, nullable = false),
    StructField("end", IntegerType, nullable = false),
    StructField("label", StringType, nullable = false)))

  val OutType: StructType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("spans", ArrayType(SpanStructType, containsNull = false),
      nullable = false)))

  private val ContentLabel = UTF8String.fromString("content")

  /** Semantics of Extract.ChromePathRe — "(^|/)(nav|footer|header|aside)
    * ($|/)" under RLIKE's unanchored find — i.e. SOME '/'-delimited segment
    * of the path is one of the four chrome tags. Spelled as a direct
    * segment scan: the regex matcher cost per block was the scored kernel's
    * second-largest term after the sigmoid (NOTES_ROUND2). Equality with
    * the composed RLIKE path is pinned by the adversarial ExtractSpec
    * case. */
  private def pathChrome(path: String): Boolean = {
    val n = path.length
    var i = 0
    while (i <= n) {
      var j = path.indexOf('/', i)
      if (j < 0) j = n
      val len = j - i
      // nav=3, aside=5, footer/header=6
      if (len == 3 || len == 5 || len == 6) {
        val seg = path.substring(i, j)
        if (seg == "nav" || seg == "aside" || seg == "footer" || seg == "header")
          return true
      }
      i = j + 1
    }
    false
  }

  /** Text length in CODE POINTS — Spark's `length()` (and DuckDB's, which
    * the oracles use) counts characters, not UTF-16 units; Java
    * String.length counts units, so astral text ('🙂🙂'.length == 4 but
    * length() == 2) would flip the len<3 rule and every length-normalized
    * score feature between the native and composed paths. */
  private def cpLen(s: String): Int = s.codePointCount(0, s.length)

  /** Rule tier — mirrors Extract.classified's CASE exactly (incl. the
    * markup-only scope of the short-block rule: layout lines and tool
    * results are positionally recovered content regardless of length).
    *
    * Fast path: with linkChars == 0 and UTF-16 length ≥ 6 the
    * decision is forced — cpLen ≥ ⌈jlen/2⌉ ≥ 3 (so neither the len == 0
    * nor the len < 3 rule can fire) and link density is exactly 0 ≤ 0.5 —
    * so the code-point scan is skipped entirely on link-free blocks, the
    * common case for real content. Exactly equivalent to the full rule. */
  private def ruleContent(blk: Block): Boolean = {
    if (pathChrome(blk.path)) return false
    if (blk.linkChars == 0 && blk.text.length >= 6) return true
    val len = cpLen(blk.text)
    if (len == 0) false
    else if (blk.linkChars.toDouble / len > 0.5) false
    else if (len < 3 && blk.path != "layout" && blk.path != "tool") false
    else true
  }

  /** E4 tier — mirrors Scorer.scoreSql exactly (same double op order). */
  private def scoredContent(blk: Block, w: Array[Double], b: Double,
                            threshold: Double): Boolean = {
    if (pathChrome(blk.path)) return false
    val len = cpLen(blk.text)
    val f0 = math.min(len.toDouble / 256.0, 1.0)
    val denom = math.max(len, 1)
    val f1 = blk.linkChars.toDouble / denom
    val f2 = blk.nTags.toDouble / denom
    val f3 = blk.nStops.toDouble / math.max(blk.nWords, 1)
    val f4 = blk.nDigits.toDouble / denom
    val z = w(0) * f0 + w(1) * f1 + w(2) * f2 + w(3) * f3 + w(4) * f4 + b
    val score = 1.0 / (1.0 + math.exp(-z))
    score > threshold
  }

  /** One pass: lex, pick content blocks, join text with the pipeline
    * separator, emit spans. Allocation-lean: the StringBuilder is only
    * materialized when a SECOND content block shows up — most payload
    * shapes yield exactly one content block, whose text is emitted without
    * any copy; spans land in a right-sized plain array. */
  def extractTurn(text: UTF8String, role: UTF8String, scored: Boolean,
                  w: Array[Double], b: Double, threshold: Double): InternalRow = {
    val t = if (text == null) null else text.toString
    val r = if (role == null) "" else role.toString
    // plain kernel never reads the scorer stats — skip that per-block pass
    val blocks = Lexer.lex(t, r, stats = scored)
    var single: String = null // sole kept block so far (no builder yet)
    var sb: java.lang.StringBuilder = null
    val spans = new Array[Any](blocks.length)
    var nSpans = 0
    var i = 0
    while (i < blocks.length) {
      val blk = blocks(i)
      val keep =
        if (scored) scoredContent(blk, w, b, threshold) else ruleContent(blk)
      if (keep) {
        if (sb != null) sb.append(Extract.JoinSep).append(blk.text)
        else if (single == null) single = blk.text
        else {
          sb = new java.lang.StringBuilder(t.length)
          sb.append(single).append(Extract.JoinSep).append(blk.text)
          single = null
        }
        spans(nSpans) = new GenericInternalRow(
          Array[Any](blk.start, blk.end, ContentLabel))
        nSpans += 1
      }
      i += 1
    }
    val outText =
      if (sb != null) sb.toString else if (single != null) single else ""
    val outSpans =
      if (nSpans == spans.length) spans
      else java.util.Arrays.copyOf(spans.asInstanceOf[Array[AnyRef]], nSpans)
        .asInstanceOf[Array[Any]]
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(outText), new GenericArrayData(outSpans)))
  }

  def extractTurn(text: Column, role: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(ExtractTurnExpr(
      ColumnBridge.expression(text), ColumnBridge.expression(role),
      scored = false, w = Nil, b = 0.0, threshold = 0.0))
  }

  def extractTurnScored(text: Column, role: Column, w: Seq[Double],
                        b: Double, threshold: Double): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(ExtractTurnExpr(
      ColumnBridge.expression(text), ColumnBridge.expression(role),
      scored = true, w = w, b = b, threshold = threshold))
  }
}
