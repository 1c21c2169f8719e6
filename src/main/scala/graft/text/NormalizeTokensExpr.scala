package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The lemma-free P1–P7 normalization chain as ONE native pass (the UDx
  * Expression tier): fold → strip punct/digits → lower → ws split
  * → length / triple-run / stopword filters. The composed spelling (kept
  * in [[Normalize.pipelineComposed]] as the reference semantics and the
  * oracle source) pays a translate + regexp_replace + lower + regex split
  * + an interpreted filter pass with per-token regex — this kernel does
  * the fold/strip in one char pass and the tokenize+filters in a second.
  *
  * Exactness (pinned by NormalizeSpec's native ≡ composed sweep):
  *  - the fold map is built from the SAME FoldFrom/FoldTo strings
  *    `translate` gets;
  *  - the strip table is DERIVED from the composed spelling's own
  *    `[\p{Punct}0-9\n\r]` pattern (ASCII-only classes, so a 128-entry
  *    table is exhaustive and non-ASCII never strips);
  *  - lowercasing delegates to UTF8String.toLowerCase — the identical
  *    code path Spark's lower() runs (ASCII fast path included);
  *  - `\s` without UNICODE flags is exactly [ \t\n\x0B\f\r];
  *  - token length is counted in CODE POINTS (Spark length());
  *  - the triple-run rule is regex `([a-z])\1\1` ≡ any 3 consecutive
  *    identical chars in a–z (a backreference scan needs no regex).
  */
case class NormalizeTokensExpr(child: Expression, stops: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "normalize_tokens"

  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stops.foreach(s.add)
    s
  }

  def kernel(text: UTF8String): ArrayData =
    NormalizeTokensExpr.normalizeKernel(text, stopSet)

  override protected def nullSafeEval(t: Any): Any =
    kernel(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("normalizeTokensExpr", this)
    defineCodeGen(ctx, ev, c => s"$self.kernel($c)")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : NormalizeTokensExpr = copy(child = newChild)
}

object NormalizeTokensExpr {

  /** Fold map from the same strings `translate` receives. */
  private val FoldMap: java.util.HashMap[Character, Character] = {
    val m = new java.util.HashMap[Character, Character]()
    Normalize.FoldFrom.zip(Normalize.FoldTo).foreach { case (f, t) =>
      m.put(f, t); ()
    }
    m
  }

  /** Strip table derived from the composed spelling's own pattern — ASCII
    * classes only, so 128 entries are exhaustive. */
  private val StripTable: Array[Boolean] = {
    val p = java.util.regex.Pattern.compile("[\\p{Punct}0-9\\n\\r]")
    Array.tabulate(128)(c => p.matcher(String.valueOf(c.toChar)).matches())
  }

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
      c == '\r'

  def normalizeKernel(text: UTF8String,
                      stopSet: java.util.HashSet[String]): ArrayData = {
    val s = text.toString
    val n = s.length
    // pass 1: fold accents, then strip punct/digits/newlines (fold targets
    // are ASCII letters, never strippable, so fold-then-strip per char is
    // exactly strip(fold(text)))
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      var c = s.charAt(i)
      val f = FoldMap.get(c)
      if (f != null) c = f.charValue()
      if (!(c < 128 && StripTable(c))) sb.append(c)
      i += 1
    }
    // lower through the identical code path Spark's lower() runs
    val ls = UTF8String.fromString(sb.toString).toLowerCase.toString
    val m = ls.length
    val out = new scala.collection.mutable.ArrayBuffer[Any](16)
    var j = 0
    while (j < m) {
      while (j < m && isWs(ls.charAt(j))) j += 1
      if (j < m) {
        val start = j
        while (j < m && !isWs(ls.charAt(j))) j += 1
        val cp = ls.codePointCount(start, j)
        if (cp >= 3 && cp < 15) {
          // triple-run scan ≡ rlike("([a-z])\1\1")
          var triple = false
          var t = start
          while (!triple && t + 2 < j) {
            val c0 = ls.charAt(t)
            if (c0 >= 'a' && c0 <= 'z' && ls.charAt(t + 1) == c0 &&
                ls.charAt(t + 2) == c0) triple = true
            t += 1
          }
          if (!triple) {
            val tok = ls.substring(start, j)
            if (!stopSet.contains(tok)) out += UTF8String.fromString(tok)
          }
        }
      }
    }
    new GenericArrayData(out.toArray)
  }

  def pipeline(text: Column, stops: Seq[String]): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(NormalizeTokensExpr(
      ColumnBridge.expression(text), stops))
  }
}
