package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the md5-keyed dedup substrate
  * (whole-stage codegen) — per-task work.
  *
  * Two interpreted costs sat on the engine's hottest kernel:
  *
  *  1. every 60-bit shingle/sampling/bucket hash was
  *     `conv(substring(md5(x), 1, n), 16, 10)::long` — materializing the
  *     32-char hex string, slicing it, and re-parsing digits the md5
  *     DIGEST already held as nibbles ([[Md5PrefixLong]] reads them
  *     directly; value-identical for n ≤ 15, pinned by HashExprSpec);
  *  2. the shingle arrays themselves were built from nested
  *     higher-order functions (`zip_with`/`filter`/`transform` over the
  *     token array) — HOF lambdas evaluate INTERPRETED per element, so
  *     every document paid ~n closure dispatches and n transient arrays
  *     per row before the first hash was computed ([[Shingles]] /
  *     [[ShingleHashes]] do the same construction in one primitive byte
  *     pass; HashExprSpec + the existing DedupSpec/ScalarTwinPropSpec
  *     twins pin them element-for-element against the HOF forms).
  *
  * All hashing stays md5-first-15-hex-digits — the engine-portable
  * contract every DuckDB oracle replays (`('0x'||substr(md5(s),1,15))::BIGINT`).
  */
object HashHelper {

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  /** Thread-cached digest: provider lookup + instance allocation per row is
    * measurable on wide scans; reset() makes reuse safe per thread.
    */
  def md5(): java.security.MessageDigest = {
    val m = md5Local.get(); m.reset(); m
  }

  /** Value of the first `nDigits` hex digits of md5(bytes) — exactly
    * `conv(substring(md5(x), 1, nDigits), 16, 10)::long` for
    * nDigits ≤ 15 (≤ 60 bits, so the value is non-negative and the
    * unsigned conv parse equals the signed long).
    */
  def md5Prefix(bytes: Array[Byte], nDigits: Int): Long = {
    val digest = md5().digest(bytes)
    var v = 0L
    var j = 0
    while (j < nDigits) {
      // hex digit j of the md5 = high nibble of byte j/2 for even j,
      // low nibble for odd j (hex rendering is msb-first per byte)
      val d = if ((j & 1) == 0) (digest(j >> 1) >> 4) & 0xF
              else digest(j >> 1) & 0xF
      v = (v << 4) | d
      j += 1
    }
    v
  }

  /** [[md5Prefix]] of a string — called from generated code. */
  def md5PrefixLong(s: UTF8String, nDigits: Int): Long =
    md5Prefix(s.getBytes, nDigits)

  /** The first `nDigits` hex digits of md5(s) as 11-digit (44-bit) long
    * chunks, msb-first — exactly the aggregate SimHash path's
    * `conv(substring(md5(t), c*11+1, min(11, nDigits-c*11)), 16, 10)`
    * per chunk, without rendering the 32-char hex string or re-parsing
    * it (each chunk ≤ 44 bits, so the unsigned conv parse equals the
    * signed long).
    */
  def md5Chunks(s: UTF8String, nDigits: Int): ArrayData = {
    val digest = md5().digest(s.getBytes)
    val nChunks = (nDigits + 10) / 11
    val out = new Array[Any](nChunks)
    var c = 0
    while (c < nChunks) {
      val end = math.min(nDigits, c * 11 + 11)
      var v = 0L
      var j = c * 11
      while (j < end) {
        val d = if ((j & 1) == 0) (digest(j >> 1) >> 4) & 0xF
                else digest(j >> 1) & 0xF
        v = (v << 4) | d
        j += 1
      }
      out(c) = v
      c += 1
    }
    new GenericArrayData(out)
  }

  /** Java-regex `\s` members — the split("\\s+") token separators. */
  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** Byte slices (offset, end) of the whitespace tokens of `raw`. */
  private def tokenSpans(raw: Array[Byte]): Array[Int] = {
    val spans = new scala.collection.mutable.ArrayBuffer[Int](32)
    var i = 0
    while (i < raw.length) {
      if (isWs(raw(i))) i += 1
      else {
        val start = i
        while (i < raw.length && !isWs(raw(i))) i += 1
        spans += start += i
      }
    }
    spans.toArray
  }

  /** The word-`n`-gram shingle byte strings of `text`, in positional
    * order — exactly [[graft.dedup.Dedup.shinglesHof]]: tokens are
    * `\s+` runs, a doc with ≥ n tokens yields its tokens−n+1 contiguous
    * n-grams joined by single spaces, a shorter doc yields ONE shingle
    * of all its tokens joined (the empty string for a token-less doc),
    * and null text yields an EMPTY array (the HOF's filter over the
    * null-propagated fallback).
    */
  private def shingleBytes(text: UTF8String, n: Int): Array[Array[Byte]] = {
    if (text == null) return Array.empty
    val raw = text.getBytes
    val spans = tokenSpans(raw)
    val nTok = spans.length / 2
    def join(from: Int, count: Int): Array[Byte] = {
      var len = math.max(count - 1, 0) // separator spaces
      var t = 0
      while (t < count) {
        len += spans(2 * (from + t) + 1) - spans(2 * (from + t)); t += 1
      }
      val out = new Array[Byte](len)
      var pos = 0
      t = 0
      while (t < count) {
        if (t > 0) { out(pos) = ' '; pos += 1 }
        val s = spans(2 * (from + t)); val e = spans(2 * (from + t) + 1)
        System.arraycopy(raw, s, out, pos, e - s)
        pos += e - s
        t += 1
      }
      out
    }
    if (nTok >= n) {
      val m = nTok - (n - 1)
      val out = new Array[Array[Byte]](m)
      var j = 0
      while (j < m) { out(j) = join(j, n); j += 1 }
      out
    } else Array(join(0, nTok))
  }

  /** array<string> of the positional shingles — see [[shingleBytes]]. */
  def shingles(text: UTF8String, n: Int): ArrayData = {
    val bs = shingleBytes(text, n)
    val out = new Array[Any](bs.length)
    var i = 0
    while (i < bs.length) { out(i) = UTF8String.fromBytes(bs(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** array<long> of shingle hashes: md5-prefix-15 of each shingle, in
    * positional order; `distinct` keeps the FIRST occurrence of each
    * distinct shingle STRING (array_distinct semantics — two shingles
    * colliding at 60 bits stay two elements); `mod` > 0 reduces each
    * hash mod that value (the MinhashP domain).
    */
  def shingleHashes(text: UTF8String, n: Int, distinct: Boolean,
                    mod: Long): ArrayData = {
    val bs = shingleBytes(text, n)
    val out = new scala.collection.mutable.ArrayBuffer[Any](bs.length)
    val seen = if (distinct) new java.util.HashSet[UTF8String]() else null
    var i = 0
    while (i < bs.length) {
      if (seen == null || seen.add(UTF8String.fromBytes(bs(i)))) {
        val h = md5Prefix(bs(i), 15)
        out += (if (mod > 0) h % mod else h)
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** `md5_prefix_long(s, nDigits)`: the first nDigits (≤ 15) hex digits of
  * md5(s) as a non-negative long.
  */
case class Md5PrefixLong(child: Expression, nDigits: Int)
    extends UnaryExpression {
  require(nDigits >= 1 && nDigits <= 15,
    s"nDigits must be in [1, 15] (sign-safe long), got $nDigits")

  override def dataType: DataType = LongType
  override def prettyName: String = "md5_prefix_long"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    HashHelper.md5PrefixLong(input.asInstanceOf[UTF8String], nDigits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"graft.functions.HashHelper.md5PrefixLong($s, $nDigits)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `md5_chunks(s, nDigits)`: the first nDigits hex digits of md5(s) as
  * 44-bit long chunks, msb-first — the aggregate SimHash vote source,
  * value-identical to the conv(substring(md5(s), …), 16, 10) chunk
  * columns it replaces (pinned by HashExprSpec).
  */
case class Md5Chunks(child: Expression, nDigits: Int)
    extends UnaryExpression {
  require(nDigits >= 1 && nDigits <= 32,
    s"md5 has 32 hex digits: nDigits must be in [1, 32], got $nDigits")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_chunks"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    HashHelper.md5Chunks(input.asInstanceOf[UTF8String], nDigits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"graft.functions.HashHelper.md5Chunks($s, $nDigits)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `shingles(text, n)`: array<string> of positional word n-gram
  * shingles — the codegen form of the zip_with/filter HOF construction.
  * NEVER null: null text yields an empty array (the HOF contract).
  */
case class Shingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"n must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "shingles"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.catalogString}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    HashHelper.shingles(child.eval(input).asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    val tpe = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .javaType(dataType)
    ev.copy(code = code"""
      ${c.code}
      $tpe ${ev.value} = graft.functions.HashHelper.shingles(
        ${c.isNull} ? null : ${c.value}, $n);
    """, isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `shingle_hashes(text, n, distinct, mod)`: array<long> of the 60-bit
  * md5-prefix hashes of the shingles (optionally first-occurrence
  * distinct by shingle string, optionally reduced mod `mod`). NEVER
  * null: null text yields an empty array, matching
  * `transform(array_distinct(shingles(text, n)), shingleHash)`.
  */
case class ShingleHashes(child: Expression, n: Int, distinct: Boolean,
                         mod: Long) extends UnaryExpression {
  require(n >= 1, s"n must be >= 1, got $n")
  require(mod >= 0, s"mod must be >= 0 (0 = raw), got $mod")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "shingle_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.catalogString}")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    HashHelper.shingleHashes(
      child.eval(input).asInstanceOf[UTF8String], n, distinct, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    val tpe = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .javaType(dataType)
    ev.copy(code = code"""
      ${c.code}
      $tpe ${ev.value} = graft.functions.HashHelper.shingleHashes(
        ${c.isNull} ? null : ${c.value}, $n, $distinct, ${mod}L);
    """, isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object HashExpressions {
  import org.apache.spark.sql.graft.ColumnShim.{column => toCol, expression => toExpr}

  /** Column surface for [[Md5PrefixLong]]. */
  def md5PrefixLong(s: Column, nDigits: Int): Column =
    toCol(Md5PrefixLong(toExpr(s), nDigits))

  /** Column surface for [[Md5Chunks]]. */
  def md5Chunks(s: Column, nDigits: Int): Column =
    toCol(Md5Chunks(toExpr(s), nDigits))

  /** Column surface for [[Shingles]]. */
  def shingles(text: Column, n: Int): Column =
    toCol(Shingles(toExpr(text), n))

  /** Column surface for [[ShingleHashes]]. */
  def shingleHashes(text: Column, n: Int, distinct: Boolean,
                    mod: Long = 0L): Column =
    toCol(ShingleHashes(toExpr(text), n, distinct, mod))
}
