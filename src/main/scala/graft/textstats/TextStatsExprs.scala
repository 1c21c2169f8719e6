package graft.textstats

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass kernels for the two regex-heavy curation scans
  * (the UDx policy's Expression tier — each is
  * spec-pinned bit-equal to its composed Column spelling, which stays in
  * TextStats as the readable reference semantics and the oracle source):
  *
  *  - [[QualityScorePpmExpr]] — TextStats.qualityScorePpm spelled the
  *    composed way costs TWO full regexp_replace copies of the text (punct
  *    and digit counts via length difference), a regex split and two
  *    interpreted array-filter passes, per row, on the quality gate that
  *    fronts the whole curation pipeline (q20, q74, q82, CurationJob).
  *    Here: one pass for the char-class counts + one tokenize pass.
  *  - [[RedactPiiExpr]] — TextStats.redactPii pays regexp_count PLUS
  *    regexp_replace per rule (8 scans, 4 intermediate full-text copies);
  *    a matcher loop yields the count and the replaced text in one scan
  *    per rule.
  *
  * Exactness notes: the punct table is DERIVED from the same
  * `[\p{Punct}]` pattern the composed spelling compiles (ASCII-only in
  * Java regex, one code point per match, so counting UTF-16 units equals
  * counting code points); `\s` without UNICODE flags is exactly
  * [ \t\n\x0B\f\r]; lowercasing goes through UTF8String.toLowerCase — the
  * identical code path Spark's lower() runs; length() semantics are code
  * points (UTF8String.numChars). Division in the ppm blend mirrors
  * Spark's Divide-on-longs (double division, then floor), not integer
  * division.
  */
object TextStatsExprs {

  // ---------------------------------------------------------------- quality

  /** ASCII lookup derived from the composed spelling's own pattern — the
    * table cannot drift from `[\p{Punct}]` because it is built by matching
    * every ASCII char against it. */
  private val PunctTable: Array[Boolean] = {
    val p = java.util.regex.Pattern.compile("[\\p{Punct}]")
    Array.tabulate(128)(c => p.matcher(String.valueOf(c.toChar)).matches())
  }

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  def qualityKernel(text: UTF8String, stops: java.util.HashSet[String],
                    maxStopLen: Int): Long = {
    // len = code points of the ORIGINAL text (Spark length() semantics)
    val cpLen = text.numChars().toLong
    val len = math.max(cpLen, 1L)
    val s = text.toString
    val n = s.length
    // pass 1: punct + digit counts (ASCII classes — UTF-16 unit scan is
    // exact, no surrogate unit lands in the ASCII range)
    var punct = 0L; var digits = 0L
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c < 128) {
        if (PunctTable(c)) punct += 1
        if (c >= '0' && c <= '9') digits += 1
      }
      i += 1
    }
    // pass 2: whitespace tokens of lower(text) + stopword hits. Lowercase
    // through UTF8String.toLowerCase — the identical code path lower()
    // runs — so token boundaries and stop equality match the composed
    // spelling even off the ASCII fast path.
    val ls = text.toLowerCase.toString
    val m = ls.length
    var nToks = 0L; var stopHits = 0L
    var j = 0
    while (j < m) {
      while (j < m && isWs(ls.charAt(j))) j += 1
      if (j < m) {
        val start = j
        while (j < m && !isWs(ls.charAt(j))) j += 1
        nToks += 1
        if (j - start <= maxStopLen && stops.contains(ls.substring(start, j)))
          stopHits += 1
      }
    }
    val nT = math.max(nToks, 1L)
    // Spark's Divide on longs is DOUBLE division; floor() then yields the
    // long — mirror exactly (NOT integer division)
    val raw = 500000L +
      math.floor(math.min(nT, 64L) * 300000L / 64.0).toLong +
      math.floor(stopHits * 200000L.toDouble / nT).toLong -
      math.floor(punct * 500000L.toDouble / len).toLong -
      math.floor(digits * 500000L.toDouble / len).toLong
    math.max(0L, math.min(1000000L, raw))
  }

  def qualityScorePpm(text: Column, stops: Seq[String]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(QualityScorePpmExpr(
      ColumnBridge.expression(text), stops))
  }

  // ----------------------------------------------------------------- redact

  val RedactOutType: StructType = StructType(
    StructField("redacted", StringType, nullable = true) +:
      TextStats.RedactionRules.map { case (name, _, _) =>
        StructField(s"n_$name", LongType, nullable = true) })

  def redactKernel(text: UTF8String,
                   patterns: Array[java.util.regex.Pattern],
                   repls: Array[String]): InternalRow = {
    val nRules = patterns.length
    val out = new Array[Any](1 + nRules)
    if (text == null) return new GenericInternalRow(out) // all-null fields
    var cur = text.toString
    var r = 0
    while (r < nRules) {
      // one matcher pass per rule: count AND replace (the composed
      // spelling scanned twice — regexp_count on the standing text, then
      // regexp_replace producing the next)
      val m = patterns(r).matcher(cur)
      var cnt = 0L
      var sb: java.lang.StringBuffer = null
      while (m.find()) {
        cnt += 1
        if (sb == null) sb = new java.lang.StringBuffer(cur.length)
        m.appendReplacement(sb, repls(r))
      }
      if (sb != null) { m.appendTail(sb); cur = sb.toString }
      out(1 + r) = cnt
      r += 1
    }
    out(0) = UTF8String.fromString(cur)
    new GenericInternalRow(out)
  }

  def redactPii(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(RedactPiiExpr(ColumnBridge.expression(text)))
  }
}

/** quality_score_ppm(text) — the composed TextStats.qualityScorePpm as one
  * native expression; stoplist baked in (same Seq the composed call gets). */
case class QualityScorePpmExpr(child: Expression, stopsSeq: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "quality_score_ppm"

  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stopsSeq.foreach(s.add)
    s
  }
  @transient private lazy val maxStopLen: Int =
    if (stopsSeq.isEmpty) 0 else stopsSeq.map(_.length).max

  def kernel(text: UTF8String): Long =
    TextStatsExprs.qualityKernel(text, stopSet, maxStopLen)

  override protected def nullSafeEval(t: Any): Any =
    kernel(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("qualityExpr", this)
    defineCodeGen(ctx, ev, c => s"$self.kernel($c)")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : QualityScorePpmExpr = copy(child = newChild)
}

/** redact_pii(text) — the composed TextStats.redactPii as one native
  * expression: same ordered rule table, same count-on-standing-text
  * semantics, one matcher pass per rule. */
case class RedactPiiExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = TextStatsExprs.RedactOutType
  override def nullable: Boolean = false
  override def prettyName: String = "redact_pii"

  @transient private lazy val patterns: Array[java.util.regex.Pattern] =
    TextStats.RedactionRules.map { case (_, re, _) =>
      java.util.regex.Pattern.compile(re) }.toArray
  @transient private lazy val repls: Array[String] =
    TextStats.RedactionRules.map(_._3).toArray

  def kernel(text: UTF8String): InternalRow =
    TextStatsExprs.redactKernel(text, patterns, repls)

  override def eval(input: InternalRow): Any =
    kernel(child.eval(input).asInstanceOf[UTF8String])

  override protected def nullSafeEval(t: Any): Any =
    throw new IllegalStateException("eval is overridden")

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val self = ctx.addReferenceObj("redactExpr", this)
    val rowCls = classOf[InternalRow].getName
    ev.copy(
      code = code"""
        ${childGen.code}
        $rowCls ${ev.value} = $self.kernel(
          ${childGen.isNull} ? null : ${childGen.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : RedactPiiExpr = copy(child = newChild)
}
