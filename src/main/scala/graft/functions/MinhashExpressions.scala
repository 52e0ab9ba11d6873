package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst MinHash-minima expression (whole-stage codegen).
  *
  * Why (per-task work): the scalar
  * [[graft.dedup.Dedup.minhashSigArray]] computed its k permutation
  * minima as k separate `array_min(transform(xs, v => (v·a_i+b_i) mod P))`
  * calls — higher-order-function lambdas evaluate INTERPRETED per
  * element, so every shingle paid k closure dispatches plus k transient
  * array materializations per document. This expression is the same
  * arithmetic — exactly [[MinhashHelper.mins]]'s affine family over the
  * same 60-bit shingle hashes, so signatures (and everything derived
  * from them: band keys, buckets, the DuckDB oracle replay) are
  * bit-identical — as ONE primitive pass inside whole-stage codegen.
  * Same preference order as [[VectorBinaryExpression]]: built-ins where
  * adequate, a scalar `Expression` with `doGenCode` where not.
  */
object MinhashHelper {
  /** Same constants as [[graft.dedup.Dedup]]'s MinhashP/minhashA/minhashB
    * (duplicated here rather than imported so the generated code's static
    * call sits next to the loop it feeds; DedupSpec pins scalar ≡
    * aggregate signatures, which would catch any drift).
    */
  val P: Long = 2147483647L
  def a(i: Int): Long = ((i + 1) * 2654435761L) % P
  def b(i: Int): Long = ((i + 1) * 40503L * 65537L + 17L) % P

  /** k minima of the affine permutations over `xs` (elements already in
    * [0, P)). Null elements are skipped, matching `array_min`; an array
    * with no usable element yields null, which the callers' `size > 0`
    * guard never reaches. Called from generated code (static forwarders
    * on the object class).
    */
  def mins(xs: ArrayData, k: Int): ArrayData = {
    val as = new Array[Long](k)
    val bs = new Array[Long](k)
    var j = 0
    while (j < k) { as(j) = a(j); bs(j) = b(j); j += 1 }
    val out = Array.fill(k)(Long.MaxValue)
    val n = xs.numElements()
    var seen = false
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i)) {
        seen = true
        val v = xs.getLong(i)
        var p = 0
        while (p < k) {
          val h = (v * as(p) + bs(p)) % P
          if (h < out(p)) out(p) = h
          p += 1
        }
      }
      i += 1
    }
    if (!seen) null else new GenericArrayData(out)
  }
}

/** `minhash_mins(xs, k)`: array<long> of the k MinHash permutation
  * minima of shingle-hash array `xs`.
  */
case class MinhashMins(child: Expression, numPerms: Int)
    extends UnaryExpression {
  require(numPerms >= 1, s"numPerms must be >= 1, got $numPerms")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_mins"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    MinhashHelper.mins(input.asInstanceOf[ArrayData], numPerms)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs => s"""
      ${ev.value} = graft.functions.MinhashHelper.mins($xs, $numPerms);
      ${ev.isNull} = (${ev.value} == null);
    """)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object MinhashExpressions {
  import org.apache.spark.sql.graft.ColumnShim.{column => toCol, expression => toExpr}

  /** Column surface for [[MinhashMins]]. */
  def minhashMins(xs: Column, numPerms: Int): Column =
    toCol(MinhashMins(toExpr(xs), numPerms))
}
