package graft.sim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Sign-LSH bucket as a native expression: `hyperplane_bucket(vec)` → int.
  *
  * Same deterministic hyperplane family as the composed spelling in
  * [[Ann.hyperplaneBucketComposed]] — coefficient
  * `((b·dim + d) · 2654435761 mod 1024) − 512` — but the `bits` dot
  * products run in one primitive loop via a static call instead of `bits`
  * interpreted aggregate/zip_with lambdas per row. The bucket assignment
  * runs per CORPUS ROW (not per candidate pair), so at 10^12-row ingestion
  * this is the narrow-scan cost of every LSH path (q47/q51); the
  * coefficient matrix is constant per (dim, bits) and hoisted out of the
  * per-row loop (recomputing it would cost a multiply+floorMod per
  * element per row). The arithmetic is unchanged, so
  * the DuckDB oracles that replay the bucket family replay this too
  * (identical IEEE results: double widening and array-order accumulation
  * per plane, pinned by AnnSpec).
  *
  * Degenerate-input parity with the composed spelling: a vector whose
  * length ≠ dim, or with a null element, buckets to 0 — zip_with pads the
  * shorter side with null, nulling every projection, and `when(null > 0)`
  * clears every bit (the native kernel must not crash or read out of
  * bounds there). ONE deliberate difference: a
  * NULL input ARRAY yields NULL here (standard null propagation) where the
  * composed spelling yields bucket 0 — NULL embeddings then drop out of
  * the bucket equi-join instead of all colliding in bucket 0, which is the
  * safer dedup behavior; corpus embedding columns are non-null.
  */
case class HyperplaneBucketExpr(child: Expression, dim: Int, bits: Int)
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "hyperplane_bucket"

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs an array<float|double> input, got ${other.sql}")
  }

  override protected def nullSafeEval(v: Any): Any =
    HyperplaneBucketExpr.bucket(v.asInstanceOf[ArrayData], dim, bits, elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v =>
      s"graft.sim.HyperplaneBucketExpr$$.MODULE$$.bucket($v, $dim, $bits, $elemIsFloat)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucketExpr =
    copy(child = newChild)
}

object HyperplaneBucketExpr {
  /** Constant coefficient matrix per (dim, bits): coef(b·dim + d) =
    * ((b·dim + d) · 2654435761 mod 1024) − 512, hoisted out of the per-row
    * loop. The handful of (dim, bits) pairs in a plan make this map tiny. */
  private val coefCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()

  private def coefs(dim: Int, bits: Int): Array[Double] =
    coefCache.computeIfAbsent((dim, bits), _ =>
      Array.tabulate(bits * dim) { i =>
        (java.lang.Math.floorMod(i.toLong * 2654435761L, 1024L) - 512L).toDouble
      })

  /** Shared kernel for interpreted eval AND generated code. Per plane b:
    * proj = Σ_d vec[d] · coef(b·dim + d), accumulated in array order with
    * double widening — identical to the composed zip_with/aggregate
    * spelling. Bit b set iff proj > 0; degenerate inputs bucket to 0. */
  def bucket(vec: ArrayData, dim: Int, bits: Int, isFloat: Boolean): Int = {
    if (vec.numElements() != dim) return 0
    var d = 0
    while (d < dim) {
      if (vec.isNullAt(d)) return 0
      d += 1
    }
    val c = coefs(dim, bits)
    var out = 0
    var b = 0
    while (b < bits) {
      var proj = 0.0
      val base = b * dim
      var i = 0
      while (i < dim) {
        val x = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
        proj += x * c(base + i)
        i += 1
      }
      if (proj > 0) out |= (1 << b)
      b += 1
    }
    out
  }

  def hyperplaneBucket(vec: Column, dim: Int, bits: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(HyperplaneBucketExpr(
      ColumnBridge.expression(vec), dim, bits))
  }
}
