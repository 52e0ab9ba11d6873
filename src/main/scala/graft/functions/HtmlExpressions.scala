package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the HTML extraction operators.
  *
  * The Column composition in [[graft.text.Html]] evaluated per page:
  * 6 whole-page regex passes, a split, then PER BLOCK an interpreted
  * `transform`/`filter` HOF chain (2 regex passes + a 6-replace anchor
  * strip + trim each) with a fresh UTF8String→String conversion per
  * regexp call, and finally a 26-entry literal entity fold — dozens of
  * intermediate string materializations per page. These expressions run
  * the IDENTICAL pattern table (`Html.DropRes` / `BlockTagRe` /
  * `AnyTagRe` / `AnchorForms` / `Entities` — referenced, not copied)
  * through the SAME java.util.regex engine Spark's regexp_replace uses,
  * in one pass per page with one String materialization. Because engine
  * and patterns are shared, semantics are equal BY CONSTRUCTION; the
  * HtmlExprSpec differential replays generated tag-soup against the
  * retained Column forms ([[graft.text.Html.htmlExtractHof]] /
  * `htmlMainTextHof`) including the documented edge cases (unclosed
  * containers, raw '<' in attributes, entity double-escapes, astral
  * code points in the length gate).
  */
object HtmlHelper {
  import graft.text.Html

  // compiled ONCE from the shared pattern table (inline (?is)/(?s)
  // flags ride the pattern strings, exactly as Spark compiles them)
  private lazy val dropPats = Html.DropRes.map(java.util.regex.Pattern.compile)
  private lazy val blockPat = java.util.regex.Pattern.compile(Html.BlockTagRe)
  private lazy val anyTagPat = java.util.regex.Pattern.compile(Html.AnyTagRe)
  private lazy val squeezePat = java.util.regex.Pattern.compile("[ \\t]+")

  /** Spark's `trim` — strips 0x20 SPACE only (not Java's trim, which
    * also strips control chars a block can legally carry, e.g. '\r').
    */
  private def trimSpaces(s: String): String = {
    var from = 0
    var to = s.length
    while (from < to && s.charAt(from) == ' ') from += 1
    while (to > from && s.charAt(to - 1) == ' ') to -= 1
    if (from == 0 && to == s.length) s else s.substring(from, to)
  }

  /** `Html.blockText`: strip remaining tags → squeeze [ \t]+ → trim. */
  private def blockText(b: String): String =
    trimSpaces(squeezePat.matcher(
      anyTagPat.matcher(b).replaceAll(" ")).replaceAll(" "))

  /** `Html.anchors`: chained literal strips of the 3-char anchor forms;
    * the count is a code-point length diff / 3 (all stripped chars are
    * ASCII, so code points ≡ chars here — the raw block's astral chars
    * cancel in the difference).
    */
  private def anchorCount(b: String): Int = {
    var stripped = b
    Html.AnchorForms.foreach(f => stripped = stripped.replace(f, ""))
    (b.length - stripped.length) / 3
  }

  /** Code points, not UTF-16 units — Spark's `length()`. */
  @inline private def cpLen(s: String): Int = s.codePointCount(0, s.length)

  private def decodeEntities(s: String): String = {
    var out = s
    Html.Entities.foreach { case (from, to) => out = out.replace(from, to) }
    out
  }

  /** Blocks of a page: containers dropped, block tags → '\n', split. */
  private def blocks(html: String): Array[String] = {
    var s = html
    dropPats.foreach(p => s = p.matcher(s).replaceAll(" "))
    // -1 limit: Spark's split keeps trailing empties (they fall to the
    // same '' filter / keep gate as any other empty block)
    blockPat.matcher(s).replaceAll("\n").split("\n", -1)
  }

  /** `Html.htmlExtract` — all text, one line per non-empty block. */
  def extract(html: UTF8String): UTF8String = {
    val sb = new java.lang.StringBuilder
    blocks(html.toString).foreach { b =>
      val bt = blockText(b)
      if (bt.nonEmpty) {
        if (sb.length() > 0) sb.append('\n')
        sb.append(bt)
      }
    }
    UTF8String.fromString(decodeEntities(sb.toString))
  }

  /** `Html.htmlMainText` — the link-density gate's survivors joined. */
  def mainText(html: UTF8String): UTF8String = {
    val sb = new java.lang.StringBuilder
    blocks(html.toString).foreach { b =>
      val bt = blockText(b)
      if (bt.nonEmpty) {
        val a = anchorCount(b)
        if (a == 0 || cpLen(bt) >= a * Html.MinCharsPerAnchor) {
          if (sb.length() > 0) sb.append('\n')
          sb.append(bt)
        }
      }
    }
    UTF8String.fromString(decodeEntities(sb.toString))
  }
}

/** `html_text(html, main)`: [[graft.text.Html.htmlExtract]] (main=false)
  * or `htmlMainText` (main=true) as one codegen pass. Null-propagating,
  * like the regexp chain it replaces.
  */
case class HtmlText(child: Expression, main: Boolean) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = if (main) "html_main_text" else "html_extract"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    if (main) HtmlHelper.mainText(input.asInstanceOf[UTF8String])
    else HtmlHelper.extract(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (main) "mainText" else "extract"
    defineCodeGen(ctx, ev, h => s"graft.functions.HtmlHelper.$fn($h)")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object HtmlExpressions {
  import org.apache.spark.sql.graft.ColumnShim.{column => toCol, expression => toExpr}

  def htmlExtract(html: Column): Column = toCol(HtmlText(toExpr(html), main = false))
  def htmlMainText(html: Column): Column = toCol(HtmlText(toExpr(html), main = true))
}
