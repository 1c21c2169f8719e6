package graft.dedup

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** k-token shingles as ONE native pass (the UDx Expression tier):
  * the composed spelling — `transform(sequence(0, greatest(size-k, 0)),
  * i -> array_join(slice(tokens, i+1, k), " "))` — runs interpreted with a
  * slice allocation and a join per window, on every row of every MinHash /
  * Jaccard / decontamination scan. Semantics are byte-identical (pinned by
  * DedupSpec): max(n−k, 0)+1 windows, windows truncated at the end, null
  * elements skipped exactly like array_join. */
case class ShinglesExpr(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "shingles"

  def kernel(arr: ArrayData): ArrayData = ShinglesExpr.shingleKernel(arr, k)

  override protected def nullSafeEval(a: Any): Any =
    kernel(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("shinglesExpr", this)
    defineCodeGen(ctx, ev, c => s"$self.kernel($c)")
  }

  override protected def withNewChildInternal(newChild: Expression)
      : ShinglesExpr = copy(child = newChild)
}

object ShinglesExpr {
  private val Sep = UTF8String.fromString(" ")

  def shingleKernel(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val count = math.max(n - k, 0) + 1
    val out = new Array[Any](count)
    var i = 0
    while (i < count) {
      val end = math.min(i + k, n)
      // join tokens [i, end) with " ", skipping null elements (array_join
      // default semantics: separator only between appended elements)
      var first: UTF8String = null
      var parts: java.util.ArrayList[UTF8String] = null
      var j = i
      var nParts = 0
      while (j < end) {
        if (!arr.isNullAt(j)) {
          val t = arr.getUTF8String(j)
          if (nParts == 0) first = t
          else {
            if (parts == null) {
              parts = new java.util.ArrayList[UTF8String](2 * k)
              parts.add(first)
            }
            parts.add(Sep); parts.add(t)
          }
          nParts += 1
        }
        j += 1
      }
      out(i) =
        if (nParts == 0) UTF8String.EMPTY_UTF8
        else if (nParts == 1) first
        else UTF8String.concat(parts.toArray(new Array[UTF8String](0)): _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  def shingles(tokens: Column, k: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(ShinglesExpr(ColumnBridge.expression(tokens), k))
  }
}
