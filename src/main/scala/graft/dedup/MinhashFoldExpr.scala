package graft.dedup

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** The MinHash running-minima fold as a native expression:
  * `minhash_fold(shingleHashes)` → array<long> of `numHashes` minima under
  * the fixed permutation family
  * `(h · A_i + B_i) mod p`, `A_i = 1000000007(i+1) mod p`,
  * `B_i = 998244353(i²+1) mod p`, `p = 2³¹−1`.
  *
  * The composed spelling (`aggregate` whose state is a `zip_with`-rebuilt
  * array of minima) allocates a fresh H-element array per shingle and runs
  * interpreted — O(shingles·H) boxed work per corpus row, the dominant
  * ingest cost of the MinHash dedup path at 10^12 rows. This expression
  * keeps one primitive long[H] across the row (same static-call shape as
  * [[graft.sim.CosineSimExpr]]). Shingle HASHING stays composed
  * (xxhash64/md5 are codegen'd builtins and the md5 family is what the
  * DuckDB oracles replay); only the fold moves. Pure integer arithmetic —
  * identical results to the composed spelling, pinned by DedupSpec;
  * q29/q45 oracle hashes unchanged. */
case class MinhashFoldExpr(child: Expression, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_fold"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs an array<bigint> input, got ${other.sql}")
  }

  override protected def nullSafeEval(v: Any): Any =
    MinhashFoldExpr.fold(v.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v =>
      s"graft.dedup.MinhashFoldExpr$$.MODULE$$.fold($v, $numHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinhashFoldExpr =
    copy(child = newChild)
}

object MinhashFoldExpr {
  private val P = 2147483647L // 2^31 - 1

  /** Constant permutation coefficients per numHashes, hoisted out of the
    * per-(shingle, hash) inner loop — recomputing them would cost two
    * multiplies + two floorMods per element per lane. */
  private val coefCache = new java.util.concurrent.ConcurrentHashMap[
    Int, (Array[Long], Array[Long])]()

  private def coefs(numHashes: Int): (Array[Long], Array[Long]) =
    coefCache.computeIfAbsent(numHashes, _ => (
      Array.tabulate(numHashes)(i =>
        java.lang.Math.floorMod(1000000007L * (i + 1L), P)),
      Array.tabulate(numHashes)(i =>
        java.lang.Math.floorMod(998244353L * (i.toLong * i + 1L), P))))

  /** Shared kernel for interpreted eval AND generated code. h < p and
    * A_i < p, so h·A_i < 2^62 — no overflow before the mod. */
  def fold(hashes: ArrayData, numHashes: Int): ArrayData = {
    val (as, bs) = coefs(numHashes)
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, P)
    val n = hashes.numElements()
    var j = 0
    while (j < n) {
      // composed parity: least() skips null lanes, so a null hash is a no-op
      if (!hashes.isNullAt(j)) {
        val h = hashes.getLong(j)
        var i = 0
        while (i < numHashes) {
          val v = java.lang.Math.floorMod(h * as(i) + bs(i), P)
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  def minhashFold(hashes: Column, numHashes: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(MinhashFoldExpr(
      ColumnBridge.expression(hashes), numHashes))
  }
}
