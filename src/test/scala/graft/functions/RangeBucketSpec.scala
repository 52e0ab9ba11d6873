package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

class RangeBucketSpec extends AnyFunSuite {

  test("interpreted and generated range_bucket agree with a linear count of lower bounds") {
    val bounds = Array(Long.MinValue + 1, -1000L, -1L, 0L, 7L, 8L, 1L << 40, Long.MaxValue - 1)
    val e = RangeBucket(BoundReference(0, LongType, nullable = false), bounds)
    val generated = GenerateUnsafeProjection.generate(Seq(e))
    val probes = bounds.flatMap(b => Seq(b - 1, b, b + 1)) ++
      Seq(Long.MinValue, Long.MaxValue, 3L, 1L << 41)
    probes.foreach { x =>
      val row = InternalRow(x)
      val want = bounds.count(_ < x)
      assert(e.eval(row) == want, x)
      assert(generated(row).getInt(0) == want, x)
    }
    assert(RangeBucket(BoundReference(0, LongType, nullable = false), Array.emptyLongArray)
      .eval(InternalRow(Long.MinValue)) == 0)
  }
}
