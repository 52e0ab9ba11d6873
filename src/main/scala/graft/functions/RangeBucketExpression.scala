package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._

/** `range_bucket(x, bounds)`: the range a long falls in, given ascending
  * distinct split points — the number of bounds strictly below `x`, so a
  * value equal to bound i lands in range i, as Spark's `RangePartitioner`
  * routes keys. Generated code runs `Arrays.binarySearch` over the bounds
  * held as one `long[]` reference object: O(log n) a row at any range
  * count, where a when-chain is O(n) and outgrows codegen at a few
  * hundred ranges. Feeds `Dataset.repartitionById` in
  * [[graft.ops.GlobalRank]].
  */
case class RangeBucket(child: Expression, bounds: Array[Long]) extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "range_bucket"
  override def toString: String = s"$prettyName($child, ${bounds.length} bounds)"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires bigint, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val i = java.util.Arrays.binarySearch(bounds, input.asInstanceOf[Long])
    if (i >= 0) i else -i - 1
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("bounds", bounds, "long[]")
    val i = ctx.freshName("i")
    nullSafeCodeGen(ctx, ev, x => s"""
      int $i = java.util.Arrays.binarySearch($b, $x);
      ${ev.value} = $i >= 0 ? $i : -$i - 1;
    """)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
