package graft.sim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** M9 as a native Catalyst expression: `cosine_sim(a, b)` → double.
  *
  * The composed spelling — `aggregate(zip_with(a, b, _*_), 0d, _+_) /
  * (norm(a)*norm(b))` — is three higher-order functions per pair, and
  * Spark's HOF lambdas evaluate INTERPRETED (HOFs have no codegen), which
  * makes the pairwise stages of the embedding queries
  * (q27/q47/q51/q54) pay boxed-lambda costs per element. This expression
  * computes dot product and both norms in ONE primitive loop via a static
  * call, so the enclosing projection keeps whole-stage codegen (same
  * static-call shape as [[graft.extract.LexBlocksExpr]]).
  *
  * Degenerate inputs → NULL, by design:
  *  - zero-norm vector → NULL. A plain Java 0.0/0.0 here would produce
  *    NaN, which Spark sorts ABOVE every real double — a single zero
  *    embedding would then top every ANN ranking and pass every near-dup
  *    threshold. The composed spelling is no better under Spark 4's
  *    default ANSI mode: its Divide THROWS on the 0.0 divisor, so one
  *    degenerate row kills a 10^12-row job. NULL (try_divide semantics)
  *    drops the row from thresholds and sorts it last in desc rankings.
  *  - length mismatch or a null element → NULL (matches the composed
  *    spelling: zip_with pads the shorter side with null, nulling the sum).
  * On well-formed inputs, elements widen to double and each accumulator
  * sums in array order — bit-identical to the composed spelling, verified
  * by AnnSpec.
  */
case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs array<float|double> inputs, " +
        s"got ${left.dataType.sql} / ${right.dataType.sql}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    CosineSimExpr.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      elemIsFloat(left), elemIsFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("cos")
      s"""java.lang.Double $tmp = graft.sim.CosineSimExpr$$.MODULE$$.cosine(
         |  $a, $b, ${elemIsFloat(left)}, ${elemIsFloat(right)});
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.doubleValue(); }""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)
}

object CosineSimExpr {
  /** Shared kernel for interpreted eval AND generated code. Accumulates
    * dot, |a|², |b|² in array order — the same element order and double
    * widening as the composed zip_with/aggregate spelling. Returns null
    * (composed parity) on length mismatch, null elements, or a zero norm. */
  def cosine(a: ArrayData, b: ArrayData,
             aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  def cosineSim(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(CosineSimExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }
}
