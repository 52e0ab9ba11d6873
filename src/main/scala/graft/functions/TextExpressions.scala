package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst Unicode-normalization expressions (whole-stage codegen).
  *
  * Why: the reference stores text as raw UTF-8 bytes
  * (`src/core/org/apache/hadoop/io/Text.java:1-60`) and leaves Unicode
  * equivalence to the application — so two byte-wise different records can
  * be the *same* text (precomposed U+00E9 vs `e` + combining U+0301), and a
  * byte-keyed dedup silently treats them as distinct. A curation layer at
  * 100 TB needs canonical text keys; Spark has no built-in NFC/NFKC
  * function, so these wrap `java.text.Normalizer` as scalar expressions
  * that stay inside whole-stage codegen (same preference order as
  * [[VectorBinaryExpression]]: built-ins where adequate, a scalar
  * `Expression` with `doGenCode` where not).
  *
  * Determinism note for the oracle: DuckDB exposes `nfc_normalize` and
  * `strip_accents` (utf8proc); for the character classes the specs pin
  * (Latin letters + combining marks, ligature/fullwidth compatibility
  * forms) the JDK and utf8proc agree, which is what makes
  * `q_unicode_dedup` hash-checkable. NFKC/NFKD have no DuckDB counterpart
  * and are spec-covered only.
  */
object TextNormHelper {
  // Called from generated code (static forwarders on the object class).
  def normNFC(s: UTF8String): UTF8String = norm(s, Normalizer.Form.NFC)
  def normNFD(s: UTF8String): UTF8String = norm(s, Normalizer.Form.NFD)
  def normNFKC(s: UTF8String): UTF8String = norm(s, Normalizer.Form.NFKC)
  def normNFKD(s: UTF8String): UTF8String = norm(s, Normalizer.Form.NFKD)

  private def norm(s: UTF8String, f: Normalizer.Form): UTF8String = {
    val in = s.toString
    // Fast path: NFC/NFKC of ASCII (the overwhelming case) is the identity.
    if (Normalizer.isNormalized(in, f)) s
    else UTF8String.fromString(Normalizer.normalize(in, f))
  }

  /** Accent folding: canonical decompose, drop combining marks, recompose.
    * Matches DuckDB `strip_accents` on Latin diacritics (é→e, ñ→n, ü→u).
    */
  def stripAccents(s: UTF8String): UTF8String = {
    val d = Normalizer.normalize(s.toString, Normalizer.Form.NFD)
    var hasMark = false
    var i = 0
    while (i < d.length && !hasMark) {
      if (Character.getType(d.charAt(i)) == Character.NON_SPACING_MARK) hasMark = true
      i += 1
    }
    if (!hasMark) return s
    val sb = new java.lang.StringBuilder(d.length)
    i = 0
    while (i < d.length) {
      val c = d.charAt(i)
      if (Character.getType(c) != Character.NON_SPACING_MARK) sb.append(c)
      i += 1
    }
    UTF8String.fromString(Normalizer.normalize(sb.toString, Normalizer.Form.NFC))
  }
}

abstract class UnicodeStringExpression extends UnaryExpression {
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a string argument, got ${other.catalogString}")
    }

  /** Name of the static [[TextNormHelper]] method backing this expression. */
  protected def helperMethod: String

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextNormHelper.$helperMethod($c)")
}

/** `unicode_normalize(s, form)` with the form fixed at plan time (NFC /
  * NFD / NFKC / NFKD) — canonical or compatibility Unicode normalization.
  */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnicodeStringExpression {
  require(Set("NFC", "NFD", "NFKC", "NFKD")(form),
    s"unknown normalization form $form")

  override def prettyName: String = s"unicode_${form.toLowerCase}"
  override protected def helperMethod: String = s"norm$form"

  private lazy val f = Normalizer.Form.valueOf(form)
  override protected def nullSafeEval(input: Any): Any = input match {
    case s: UTF8String =>
      f match {
        case Normalizer.Form.NFC  => TextNormHelper.normNFC(s)
        case Normalizer.Form.NFD  => TextNormHelper.normNFD(s)
        case Normalizer.Form.NFKC => TextNormHelper.normNFKC(s)
        case Normalizer.Form.NFKD => TextNormHelper.normNFKD(s)
      }
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `strip_accents(s)` — decompose, drop combining marks, recompose. */
case class StripAccents(child: Expression) extends UnicodeStringExpression {
  override def prettyName: String = "strip_accents"
  override protected def helperMethod: String = "stripAccents"

  override protected def nullSafeEval(input: Any): Any =
    TextNormHelper.stripAccents(input.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object TextExpressions {
  import org.apache.spark.sql.graft.ColumnShim.{column => toCol, expression => toExpr}

  def unicodeNormalize(c: Column, form: String): Column =
    toCol(UnicodeNormalize(toExpr(c), form))

  def nfc(c: Column): Column = unicodeNormalize(c, "NFC")
  def nfkc(c: Column): Column = unicodeNormalize(c, "NFKC")

  def stripAccents(c: Column): Column = toCol(StripAccents(toExpr(c)))

  /** Canonical dedup key: compatibility-fold, accent-fold, case-fold,
    * whitespace-collapse. The text analog of the reference's byte-equality
    * record key, made Unicode-equivalence-safe.
    */
  def canonicalTextKey(c: Column): Column = {
    import org.apache.spark.sql.functions._
    trim(regexp_replace(lower(stripAccents(nfkc(c))), "\\s+", " "))
  }
}
