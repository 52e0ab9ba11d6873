package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.Column

/** Native Catalyst vector expressions (with whole-stage codegen).
  *
  * Why custom expressions (the one place SURVEY.md §4 said we'd need
  * them): `aggregate(zip_with(a, b, ...), ...)` expresses a dot product,
  * but Catalyst interprets higher-order-function lambdas per element —
  * closure dispatch per float at 100 TB of embeddings is the hot loop.
  * These compile to a tight primitive `for` loop inside whole-stage
  * codegen, reading `ArrayData` without boxing.
  *
  * Preference order honored: (a) built-ins where adequate (all other
  * operators); (b) THIS — a scalar `Expression` with `doGenCode`;
  * (c) full custom physical operators — never needed.
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float|double> args, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  protected def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** java accessor snippet for element i of an ArrayData in codegen */
  protected def getter(e: Expression, arr: String, i: String): String =
    if (elemIsFloat(e)) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"

  protected def getAt(e: Expression, arr: ArrayData, i: Int): Double =
    if (elemIsFloat(e)) arr.getFloat(i).toDouble else arr.getDouble(i)
}

/** dot(a, b) — sum of elementwise products in double. */
case class DotProduct(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += getAt(left, x, i) * getAt(right, y, i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $acc = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          $acc += ${getter(left, a, i)} * ${getter(right, b, i)};
        }
        ${ev.value} = $acc;
      """
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** cosine(a, b) = dot/(|a||b|); 0.0 when either norm is zero. */
case class CosineSimilarity(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "vec_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = getAt(left, x, i); val yv = getAt(right, y, i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0, $na = 0.0, $nb = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $xv = ${getter(left, a, i)};
          double $yv = ${getter(right, b, i)};
          $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
        }
        ${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0
          : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
      """
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Shared primitive loops for [[NearestCentroid]] — static so generated
  * code can call them (the MinhashHelper pattern).
  */
object CentroidHelper {
  /** argmax cell over `cents` (array<struct<cid:int, vec:array<double>>>)
    * by (cosine, −cid) — EXACTLY the broadcast fold's semantics: cosine
    * is [[CosineSimilarity]]'s arithmetic (0.0 on a zero norm), the
    * running max compares sim first with Double.compare (Spark's
    * nan-safe double ordering) and breaks ties toward the smaller cid.
    */
  def nearestCell(emb: ArrayData, cents: ArrayData, embFloat: Boolean): Int = {
    var bestSim = Double.NegativeInfinity
    var bestNeg = Int.MinValue
    val k = cents.numElements()
    // an empty centroid table would silently return
    // -Int.MinValue (overflowing back to Int.MinValue) as a sentinel
    // cell id — fail loudly instead; buildIvfIndex never passes empty
    // centroids, but the expression is reachable via SQL composition
    require(k >= 1, "nearest_centroid requires a non-empty centroid array")
    var c = 0
    while (c < k) {
      val s = cents.getStruct(c, 2)
      val cid = s.getInt(0)
      val vec = s.getArray(1)
      val n = math.min(emb.numElements(), vec.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val xv = if (embFloat) emb.getFloat(i).toDouble else emb.getDouble(i)
        val yv = vec.getDouble(i)
        dot += xv * yv; na += xv * xv; nb += yv * yv
        i += 1
      }
      val sim =
        if (na == 0.0 || nb == 0.0) 0.0
        else dot / (math.sqrt(na) * math.sqrt(nb))
      val cmp = java.lang.Double.compare(sim, bestSim)
      if (cmp > 0 || (cmp == 0 && -cid > bestNeg)) {
        bestSim = sim; bestNeg = -cid
      }
      c += 1
    }
    -bestNeg
  }
}

/** `nearest_centroid(emb, cents)` → int cell id. Replaces the
  * interpreted `aggregate()`-over-broadcast-centroids fold in
  * [[graft.sim.Similarity.buildIvfIndex]]'s large-k path: the fold
  * paid a closure dispatch + a struct allocation + a
  * struct comparison per centroid per row; this is one primitive
  * k·dim loop inside whole-stage codegen. Tie-break and zero-norm
  * semantics identical to the fold (SimilaritySpec pins the two paths
  * cell-for-cell).
  */
case class NearestCentroid(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val embOk = left.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    val centsOk = right.dataType match {
      case ArrayType(StructType(fs), _) if fs.length == 2 =>
        fs(0).dataType == IntegerType &&
          (fs(1).dataType match {
            case ArrayType(DoubleType, _) => true
            case _ => false
          })
      case _ => false
    }
    if (embOk && centsOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float|double>, array<struct<int," +
          s"array<double>>>), got ${left.dataType.catalogString}, " +
          s"${right.dataType.catalogString}")
  }

  private def embIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any =
    CentroidHelper.nearestCell(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], embIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      ${ev.value} = graft.functions.CentroidHelper.nearestCell($a, $b, $embIsFloat);
    """)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object VectorExpressions {
  /** Column API (no registration needed): wraps the expression via the
    * classic converter (Spark 4 removed public Column(expr)).
    */
  def vecDot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      DotProduct(expressionOf(a), expressionOf(b)))

  def vecCosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      CosineSimilarity(expressionOf(a), expressionOf(b)))

  /** Column surface for [[NearestCentroid]]. */
  def nearestCell(emb: Column, cents: Column): Column =
    org.apache.spark.sql.graft.ColumnShim.column(
      NearestCentroid(expressionOf(emb), expressionOf(cents)))

  private def expressionOf(c: Column): Expression =
    org.apache.spark.sql.graft.ColumnShim.expression(c)
}
