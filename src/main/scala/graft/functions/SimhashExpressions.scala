package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst SimHash-band expression (whole-stage codegen).
  *
  * Why (per-task work): the scalar
  * [[graft.dedup.Dedup.simhash64Array]] folded per-token votes through
  * nested higher-order functions (`aggregate` over `zip_with` over a
  * 16-element literal array per token per band) — HOF lambdas evaluate
  * INTERPRETED per element, so every distinct token paid 4 closure
  * dispatches plus 5 transient array materializations, on top of
  * re-hex-parsing the md5. This expression is the same bit layout —
  * hex digit j ∈ 0..4·nBands−1 of md5(token) votes ±1 on bits
  * (d_j >> b) & 1, band k packs digits 4k..4k+3 at in-band position
  * (j−4k)·4 + b, exactly [[graft.dedup.Dedup.simhashBands]] and the
  * DuckDB oracle's digit/bit replay — as ONE primitive pass over the
  * raw md5 DIGEST bytes (hex digit j IS nibble j of the digest, so no
  * hex string is ever materialized). DedupSpec §"scalar simhash64Array
  * ≡ aggregate" and ScalarTwinPropSpec pin the equivalence.
  */
object SimhashHelper {
  /** nBands 16-bit band ints from the distinct-token array; null for an
    * empty array (the scalar contract: no tokens → no signature). Null
    * elements are skipped defensively (the callers' token arrays are
    * empty-filtered and never null). Called from generated code.
    */
  def bands(tokens: ArrayData, nBands: Int): ArrayData = {
    val nd = 4 * nBands
    val n = tokens.numElements()
    var seen = false
    val votes = new Array[Int](nd * 4)
    // thread-cached digest: a fresh getInstance per row
    // pays the provider lookup + allocation on every scanned row
    val md = HashHelper.md5()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        seen = true
        md.reset()
        val digest = md.digest(tokens.getUTF8String(i).getBytes)
        var j = 0
        while (j < nd) {
          // hex digit j of the md5 = high nibble of byte j/2 for even j,
          // low nibble for odd j (hex rendering is msb-first per byte)
          val d = if ((j & 1) == 0) (digest(j >> 1) >> 4) & 0xF
                  else digest(j >> 1) & 0xF
          var b = 0
          while (b < 4) {
            votes(j * 4 + b) += (((d >> b) & 1) << 1) - 1 // ±1 vote
            b += 1
          }
          j += 1
        }
      }
      i += 1
    }
    if (!seen) return null
    val out = new Array[Any](nBands)
    var k = 0
    while (k < nBands) {
      var v = 0
      var jj = 0
      while (jj < 4) {
        var b = 0
        while (b < 4) {
          if (votes((4 * k + jj) * 4 + b) > 0) v |= 1 << (jj * 4 + b)
          b += 1
        }
        jj += 1
      }
      out(k) = v
      k += 1
    }
    new GenericArrayData(out)
  }
}

/** `simhash_bands(tokens, nBands)`: array<int> of the nBands 16-bit
  * SimHash band ints of distinct-token array `tokens`.
  */
case class SimhashBands(child: Expression, nBands: Int)
    extends UnaryExpression {
  require(nBands >= 1 && nBands <= 8,
    s"md5 has 32 hex digits: nBands <= 8, got $nBands")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "simhash_bands"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    SimhashHelper.bands(input.asInstanceOf[ArrayData], nBands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, xs => s"""
      ${ev.value} = graft.functions.SimhashHelper.bands($xs, $nBands);
      ${ev.isNull} = (${ev.value} == null);
    """)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object SimhashExpressions {
  import org.apache.spark.sql.graft.ColumnShim.{column => toCol, expression => toExpr}

  /** Column surface for [[SimhashBands]]. */
  def simhashBands(tokens: Column, nBands: Int): Column =
    toCol(SimhashBands(toExpr(tokens), nBands))
}
