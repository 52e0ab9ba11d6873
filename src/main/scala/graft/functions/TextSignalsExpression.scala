package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the fused corpus-signals struct
  * (whole-stage codegen).
  *
  * Why (per-task work): the fused
  * [[graft.text.TextAnalysis.signals]] struct was composed from
  * higher-order functions — `filter(split(text))` token arrays, one
  * `filter`+`array_contains` probe per language plus one for the union
  * list — and HOF lambdas evaluate INTERPRETED per element, so the
  * busiest scan substrate in the engine (corpus_filter / pipeline /
  * funnel / signals / crawl+stream ingest / frontdoor) paid ~6 closure
  * dispatches per token plus 7 transient token-array materializations
  * per row (~1.05 s per pass at sf0.1). This expression computes the
  * identical arithmetic — same `\s+` tokenization, same stopword-hit
  * counts over `lower(text)`, same alphabetical-first argmax, the same
  * double association order and HALF_UP round-6 — in ONE primitive pass
  * over the raw UTF-8 bytes. SignalsPropSpec pins it field-for-field
  * against the retained HOF composition (`TextAnalysis.signalsHof`),
  * including the null/empty/whitespace/unicode edge cases.
  */
object TextSignalsHelper {

  /** Sorted language list — the argmax tie-break order. */
  private val langs: Array[String] =
    graft.text.TextAnalysis.stopwords.keys.toArray.sorted

  /** Stopwords packed as big-endian byte-longs (all are ASCII, ≤ 7
    * bytes, so the length tag in the top byte cannot alias content
    * bits) with a per-language bitmask; sorted for binary search.
    * Built from the ONE stopword table so the lists can never drift.
    */
  private val (wordKeys: Array[Long], wordMasks: Array[Int]) = {
    def pack(w: String): Long = {
      val bs = w.getBytes("UTF-8")
      require(bs.length <= 7 && bs.forall(b => b >= 0 && b < 0x80),
        s"stopword '$w' must be ASCII and <= 7 bytes")
      bs.foldLeft(0L)((v, b) => (v << 8) | (b & 0xFFL)) | (bs.length.toLong << 56)
    }
    val m = scala.collection.mutable.LinkedHashMap[Long, Int]()
    langs.zipWithIndex.foreach { case (l, i) =>
      graft.text.TextAnalysis.stopwords(l).foreach { w =>
        val k = pack(w)
        m(k) = m.getOrElse(k, 0) | (1 << i)
      }
    }
    val sorted = m.toArray.sortBy(_._1)
    (sorted.map(_._1), sorted.map(_._2))
  }

  /** Java-regex `\s` members — the split("\\s+") token separators. */
  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** The punctuation class of `TextAnalysis.punctRatio`:
    * `[.,;:!?'"()-]` (all ASCII — safe to count on raw UTF-8 bytes).
    */
  @inline private def isPunct(b: Byte): Boolean = b match {
    case '.' | ',' | ';' | ':' | '!' | '?' | '\'' | '"' | '(' | ')' | '-' => true
    case _ => false
  }

  /** Spark `round(_, 6)` — BigDecimal HALF_UP, the engine's RoundBase. */
  @inline private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  private val und = UTF8String.fromString("und")
  private val langU8: Array[UTF8String] = langs.map(UTF8String.fromString)

  /** The HOF composition's value for NULL text, pinned by SignalsPropSpec:
    * size(null) = NULL (Spark 4, no legacy sizeOfNull) → tok_cnt NULL,
    * per-lang scores NULL → best NULL → "und"; every least() sees one
    * NULL arm and one literal (least skips nulls), so lenScore = sw =
    * punctPenalty = 1.0 → quality = round(0.4 + 0.4 + 0.0, 6) = 0.8.
    */
  private def nullRow: InternalRow =
    new GenericInternalRow(Array[Any](und, null, 0.8))

  /** struct(lang_pred, tok_cnt, quality) — see the object scaladoc. */
  def compute(text: UTF8String): InternalRow = {
    if (text == null) return nullRow
    // pass 1: raw bytes — token count + punctuation count (code points
    // in the punct class are all single-byte ASCII, and UTF-8
    // continuation bytes can never alias them or the separators)
    val raw = text.getBytes
    var tokCnt = 0
    var punct = 0
    var i = 0
    var inTok = false
    while (i < raw.length) {
      val b = raw(i)
      if (isWs(b)) inTok = false
      else {
        if (!inTok) { tokCnt += 1; inTok = true }
        if (isPunct(b)) punct += 1
      }
      i += 1
    }
    // pass 2: lowered bytes — stopword hits per language + union hits.
    // UTF8String.toLowerCase is EXACTLY what Spark's lower() computes,
    // and lowering never creates or removes whitespace, so the lowered
    // token runs are the HOF form's split(lower(text)) tokens.
    val low = text.toLowerCase.getBytes
    val hits = new Array[Int](langs.length)
    var allHits = 0
    i = 0
    while (i < low.length) {
      if (isWs(low(i))) i += 1
      else {
        val start = i
        var key = 0L
        var ascii = true
        while (i < low.length && !isWs(low(i))) {
          val b = low(i)
          if (b < 0 || b >= 0x80) ascii = false
          else key = (key << 8) | (b & 0xFFL)
          i += 1
        }
        val len = i - start
        if (ascii && len <= 7) {
          val k = key | (len.toLong << 56)
          val idx = java.util.Arrays.binarySearch(wordKeys, k)
          if (idx >= 0) {
            val mask = wordMasks(idx)
            allHits += 1
            var l = 0
            while (l < langs.length) {
              if ((mask & (1 << l)) != 0) hits(l) += 1
              l += 1
            }
          }
        }
      }
    }
    // argmax with alphabetical-first tie-break (the foldRight when-chain)
    var best = Int.MinValue
    var l = 0
    while (l < hits.length) { if (hits(l) > best) best = hits(l); l += 1 }
    var lang = und
    if (best > 0) {
      var m = 0
      var found = false
      while (m < hits.length && !found) {
        if (hits(m) == best) { lang = langU8(m); found = true }
        m += 1
      }
    }
    // quality — identical double association order as the Column form
    val lenScore = math.min(tokCnt / 100.0, 1.0)
    val swRatio = allHits.toDouble / math.max(tokCnt, 1).toDouble
    val sw = math.min(swRatio * 5.0, 1.0)
    val punctRatio = punct.toDouble / math.max(text.numChars(), 1).toDouble
    val punctPenalty = math.min(punctRatio * 5.0, 1.0)
    val quality = round6(lenScore * 0.4 + sw * 0.4 + (1.0 - punctPenalty) * 0.2)
    new GenericInternalRow(Array[Any](lang, tokCnt.toLong, quality))
  }
}

/** `text_signals(text)`: struct(lang_pred string, tok_cnt bigint,
  * quality double) — the fused scan-side signals.
  */
case class TextSignals(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("lang_pred", StringType, nullable = true),
    StructField("tok_cnt", LongType, nullable = true),
    StructField("quality", DoubleType, nullable = true)))

  // never null: the HOF composition yields a defined struct even for
  // NULL text (see TextSignalsHelper.nullRow)
  override def nullable: Boolean = false
  override def prettyName: String = "text_signals"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.catalogString}")
  }

  override def eval(input: InternalRow): Any =
    TextSignalsHelper.compute(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val resultCode =
      code"""
        ${c.code}
        InternalRow ${ev.value} = graft.functions.TextSignalsHelper.compute(
          ${c.isNull} ? null : ${c.value});
      """
    ev.copy(code = resultCode, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object TextSignalsExpressions {
  import org.apache.spark.sql.graft.ColumnShim.{column => toCol, expression => toExpr}

  /** Column surface for [[TextSignals]]. */
  def textSignals(text: Column): Column = toCol(TextSignals(toExpr(text)))
}
