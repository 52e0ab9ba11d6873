package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** HTML main-text extraction — the crawl-ingest front door.
  *
  * A pretraining corpus starts as markup: before any quality gate or
  * dedup key makes sense, the page has to become text, and the nav /
  * footer / sidebar boilerplate has to go (otherwise MinHash clusters
  * every page of a site into one near-dup bucket and the quality gates
  * score chrome, not content). The reference's world never gets past
  * byte records (`src/core/org/apache/hadoop/io/Text.java`); this is the
  * curation-layer operator its pipelines would bolt on first.
  *
  * Two operators, one pattern table:
  *
  *  - [[htmlExtract]] — ALL text: drop script/style/noscript/comments,
  *    break on block tags, strip remaining tags, collapse whitespace,
  *    drop empty lines, decode the common entities.
  *  - [[htmlMainText]] — content text: same block segmentation, then a
  *    link-density gate per block (jusText/Boilerpipe's core heuristic):
  *    a block survives only if it has no `<a ` anchors or carries at
  *    least [[MinCharsPerAnchor]] characters of stripped text per anchor.
  *    Nav bars and footers (many links, little text) die; paragraphs
  *    that merely contain a link survive.
  *
  * Everything is Column-composed regex + array HOFs in the Java-regex /
  * RE2 common subset — NO backreferences (RE2 has none), no
  * replacement-string escapes (Java and RE2 disagree on them; newline
  * replacements are REAL newline characters), inline `(?is)` flags both
  * engines honor — so [[extractSql]] / [[mainTextSql]] render the exact
  * same pipeline as DuckDB SQL for the oracle. Scale shape: scalar
  * per-row work riding the scan; zero shuffle, zero UDF, linear in
  * document bytes (every regex is star-height 1 over `[^>]` / lazy-dot
  * classes, so no backtracking blowup on tag soup).
  */
object Html {

  /** Containers whose CONTENT is dropped, plus comments. Lazy-dot with
    * an explicit closing literal per tag — no backreferences. Cost
    * bound: a WELL-FORMED page is one linear pass; an open tag with no
    * close costs one scan to end-of-page per unclosed open (bounded per
    * page, never per corpus — and the content simply survives as text,
    * fail-open).
    */
  val DropRes: Seq[String] = Seq(
    "(?is)<script\\b[^<>]*>.*?</script\\s*>",
    "(?is)<style\\b[^<>]*>.*?</style\\s*>",
    "(?is)<noscript\\b[^<>]*>.*?</noscript\\s*>",
    "(?s)<!--.*?-->")

  /** Tags that end a text block (their open AND close forms → newline).
    * Structure tags (html/head/body/title) included so the title becomes
    * its own block instead of gluing to the first content line.
    */
  val BlockTagRe: String =
    "(?i)</?(html|head|body|title|p|div|br|hr|li|ul|ol|dl|dt|dd|h[1-6]|" +
      "tr|td|th|table|thead|tbody|blockquote|pre|section|article|aside|" +
      "header|footer|nav|form|figure|figcaption)\\b[^<>]*>"

  /** Any remaining tag (inline: a, span, b, i, img, ...) → one space.
    *
    * `[^<>]*`, NOT `[^>]*`, in every tag matcher: excluding '<' from the
    * attribute span is what makes the Java engine LINEAR on adversarial
    * input — with `[^>]*`, a page of bare '<'s backtracks quadratically
    * (measured: 81 s for 200 KB; `[^<>]*` reads 2 ms, HtmlSpec pins the
    * bound). RE2 is linear either way, so both engines only needed the
    * same semantics; the cost is rare markup with a RAW '<' inside a
    * quoted attribute, where the tag splits and its head survives as
    * text (fail-open; spec'd).
    */
  val AnyTagRe: String = "(?s)<[^<>]*>"

  /** The named/numeric entities decoded — the high-frequency set plus
    * the numeric character references real crawl text is full of
    * (`&#8217;` outnumbers `&rsquo;` in the wild). A bounded LITERAL
    * table, not a regex callback: every entry is one `replace`, so the
    * fold renders identically in both engines. Order matters — the
    * ampersand forms (`&#38;`, `&amp;`) decode LAST so `&amp;lt;`
    * yields the literal text `&lt;`, not a `<`. Known cost of the
    * fold shape: a double-escaped `&#38;amp;` decodes one level too
    * far (to `&`); `&amp;#8217;` is handled right because the numeric
    * pass runs first.
    */
  val Entities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ",
    "&mdash;" -> "—", "&ndash;" -> "–", "&hellip;" -> "…",
    "&#34;" -> "\"", "&#60;" -> "<", "&#62;" -> ">", "&#160;" -> " ",
    "&#169;" -> "©", "&#174;" -> "®",
    "&#8211;" -> "–", "&#8212;" -> "—",
    "&#8216;" -> "‘", "&#8217;" -> "’",
    "&#8220;" -> "“", "&#8221;" -> "”", "&#8230;" -> "…",
    "&#x27;" -> "'", "&#x2019;" -> "’",
    "&#38;" -> "&", "&amp;" -> "&")

  /** Link-density gate: a block with k `<a ` anchors needs ≥ 40·k chars
    * of stripped text to survive [[htmlMainText]].
    */
  val MinCharsPerAnchor = 40

  private val NL = "\n" // REAL newline char: literal in both regex engines

  private def dropScripts(c: Column): Column =
    DropRes.foldLeft(c)((acc, re) => regexp_replace(acc, re, " "))

  private def decodeEntities(c: Column): Column =
    Entities.foldLeft(c) { case (acc, (from, to)) =>
      replace(acc, lit(from), lit(to))
    }

  /** Stripped, squeezed, trimmed text of one block (tags still inside). */
  private def blockText(b: Column): Column =
    trim(regexp_replace(regexp_replace(b, AnyTagRe, " "), "[ \\t]+", " "))

  /** Anchor-open forms the link-density gate counts: `<a` in BOTH ASCII
    * cases, followed by space, tab or an immediate `>` — the shapes
    * minified and uppercase nav bars actually emit. ASCII literals only
    * (no lowercasing of the block): a case-mapped count would tie the
    * oracle to engine-specific Unicode case-mapping LENGTHS, since the
    * count is a length difference. Every form is exactly 3 chars, so
    * one chained strip + length diff / 3 counts them all in a single
    * engine-portable expression. No newline forms on purpose: the gate
    * sees BLOCK strings, which [[blocks]] produced by splitting on
    * newline — a `<a\nhref` anchor is already split across two blocks
    * before the count runs (its head strips as a malformed tag,
    * fail-open), so a `<a\n` literal could never match.
    */
  val AnchorForms: Seq[String] =
    Seq("<a ", "<A ", "<a\t", "<A\t", "<a>", "<A>")

  /** Anchor count of one raw block — see [[AnchorForms]]. The strips
    * chain left to right in both engines, so any (pathological) match
    * a removal juxtaposes is counted identically by the oracle.
    */
  private def anchors(b: Column): Column =
    (length(b) - length(AnchorForms.foldLeft(b)((acc, f) =>
      replace(acc, lit(f), lit(""))))) / 3

  /** Let-binding (same technique as `Dedup.bindOnce`, see the scaladoc
    * there): a lambda variable evaluates once per row; a plain alias is
    * re-inlined into every use site by Catalyst.
    */
  private def bindOnce(value: Column, body: Column => Column): Column =
    graft.ColumnUtil.bindOnce(value, body)

  /** Per-block `(text, keep)` pair with [[blockText]] (two regexp
    * passes) and [[anchors]] (a 6-replace chain) each bound ONCE per
    * block — composing the gate predicate from the raw pieces would
    * re-evaluate blockText three times per block on the crawl-ingest
    * hot path (twice in the gate, once in the survivor projection).
    */
  private def blockInfo(b: Column): Column =
    bindOnce(blockText(b), bt => bindOnce(anchors(b), a =>
      struct(bt.as("text"),
        (bt =!= "" && (a === 0 || length(bt) >= a * MinCharsPerAnchor))
          .as("keep"))))

  /** Raw blocks of a document: content containers gone, block tags →
    * newline, split. Shared by both operators and their diag columns.
    */
  def blocks(html: Column): Column =
    split(regexp_replace(dropScripts(html), BlockTagRe, NL), NL)

  /** All text of the page, one line per block, boilerplate KEPT.
    *
    * Computed by the codegen
    * [[graft.functions.HtmlText]] expression — the SAME pattern table
    * (this object's constants, referenced not copied) through the SAME
    * java.util.regex engine, one pass and one String materialization
    * per page instead of the interpreted per-block HOF chain retained
    * below as [[htmlExtractHof]] (HtmlExprSpec pins the two, and the
    * DuckDB renderers below replay the identical table).
    */
  def htmlExtract(html: Column): Column =
    graft.functions.HtmlExpressions.htmlExtract(html)

  /** The Column composition of [[htmlExtract]] — the
    * differential twin HtmlExprSpec replays against the expression.
    */
  private[graft] def htmlExtractHof(html: Column): Column = {
    val cleaned = transform(blocks(html), b => blockText(b))
    decodeEntities(
      array_join(filter(cleaned, l => l =!= ""), NL))
  }

  /** Content text of the page: link-dense blocks (nav/footer/sidebar)
    * dropped, survivors joined by newline, entities decoded once at the
    * end (the density test runs on raw text so thresholds are
    * markup-stable). Codegen — see [[htmlExtract]].
    */
  def htmlMainText(html: Column): Column =
    graft.functions.HtmlExpressions.htmlMainText(html)

  /** The Column composition of [[htmlMainText]] — the
    * differential twin. The keep decision and the survivor text come
    * from ONE [[blockInfo]] evaluation per block.
    */
  private[graft] def htmlMainTextHof(html: Column): Column =
    decodeEntities(array_join(
      transform(
        filter(transform(blocks(html), b => blockInfo(b)), i => i("keep")),
        i => i("text")),
      NL))

  /** Number of blocks the link-density gate keeps (diag/oracle column). */
  def mainBlocksKept(html: Column): Column =
    size(filter(transform(blocks(html), b => blockInfo(b)), i => i("keep")))

  // ---- DuckDB renderers: the SAME pattern table, rendered as SQL ----

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  private def dropScriptsSql(in: String): String =
    DropRes.foldLeft(in)((acc, re) =>
      s"regexp_replace($acc, ${sqlLit(re)}, ' ', 'g')")

  private def decodeEntitiesSql(in: String): String =
    Entities.foldLeft(in) { case (acc, (from, to)) =>
      s"replace($acc, ${sqlLit(from)}, ${sqlLit(to)})"
    }

  private def blockTextSql(b: String): String =
    s"trim(regexp_replace(regexp_replace($b, ${sqlLit(AnyTagRe)}, ' ', 'g')," +
      s" '[ \t]+', ' ', 'g'))"

  private def anchorsSql(b: String): String = {
    val stripped = AnchorForms.foldLeft(b)((acc, f) =>
      s"replace($acc, ${sqlLit(f)}, '')")
    s"(length($b) - length($stripped)) / 3"
  }

  private def blocksSql(in: String): String =
    s"string_split_regex(regexp_replace(${dropScriptsSql(in)}, " +
      s"${sqlLit(BlockTagRe)}, chr(10), 'g'), chr(10))"

  /** DuckDB replay of [[htmlExtract]] for an input SQL expression. */
  def extractSql(in: String): String =
    decodeEntitiesSql(
      s"array_to_string(list_filter(list_transform(${blocksSql(in)}, " +
        s"b -> ${blockTextSql("b")}), l -> l <> ''), chr(10))")

  private def keepBlockSql(b: String): String =
    s"${blockTextSql(b)} <> '' AND (${anchorsSql(b)} = 0 OR " +
      s"length(${blockTextSql(b)}) >= ${anchorsSql(b)} * $MinCharsPerAnchor)"

  /** DuckDB replay of [[htmlMainText]]. */
  def mainTextSql(in: String): String =
    decodeEntitiesSql(
      s"array_to_string(list_transform(list_filter(${blocksSql(in)}, " +
        s"b -> ${keepBlockSql("b")}), b -> ${blockTextSql("b")}), chr(10))")

  /** DuckDB replay of [[mainBlocksKept]]. */
  def mainBlocksKeptSql(in: String): String =
    s"len(list_filter(${blocksSql(in)}, b -> ${keepBlockSql("b")}))"
}
