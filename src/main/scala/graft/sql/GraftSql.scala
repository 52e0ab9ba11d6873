package graft.sql

import graft.functions.{CosineSimilarity, DotProduct, PslDomain,
  StripAccents, TextExpressions, UnicodeNormalize}
import graft.text.{Html, TextAnalysis, Urls}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.ColumnShim.{column => toCol,
  eagerExpression => toExpr}

/** The engine's SQL surface: every scalar operator of the LLM-pipeline
  * library, callable from plain `spark.sql` — so a SQL-only consumer can
  * run quality gates, URL identity keys, token accounting and dedup
  * fingerprints without writing Scala.
  *
  * Two registration routes, one function table:
  *
  *  - [[GraftSql.register]] — session-scoped, call once per
  *    `SparkSession` (what [[graft.SparkEntry]]-driven jobs and the
  *    correctness suite use);
  *  - [[GraftSqlExtensions]] — a `SparkSessionExtensions` injector for
  *    `spark.sql.extensions=graft.sql.GraftSqlExtensions`, which
  *    registers the same functions at session build time (the
  *    deployment route: no code change in the consuming job at all).
  *
  * Every function is a NATIVE expression tree: the Column-composed ones
  * expand to the same codegen'd Catalyst operators the library's Scala
  * API builds (macro-style — the analyzer sees the expanded tree, so
  * predicate pushdown, constant folding and whole-stage codegen all
  * apply), and the custom ones (`unicode_nfc`, `vec_cosine`, …) are the
  * library's own `doGenCode` expressions. No function here is a black-box
  * UDF; plans through this surface are bit-identical to plans through
  * the Scala API (SqlSurfaceSpec asserts exactly that).
  *
  * Reference seam: the reference exposes its operator library to
  * hive-streaming SQL via TRANSFORM scripts
  * (`/root/reference/src/contrib/hive-streaming`); this surface is the
  * Spark-native equivalent — in-plan functions instead of forked
  * script processes.
  */
object GraftSql {

  private def c1(f: Column => Column): Seq[Expression] => Expression = {
    exprs =>
      require(exprs.length == 1, s"expected 1 argument, got ${exprs.length}")
      toExpr(f(toCol(exprs.head)))
  }

  /** The one name→builder table both registration routes share.
    * Names are `graft_`-prefixed except the custom expressions that
    * have shipped unprefixed since their introduction
    * (`unicode_nfc/nfkc`, `strip_accents`, `vec_dot`, `vec_cosine`).
    */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // URL identity (crawl dedup keys, per-domain caps)
    "graft_url_canonical" -> c1(Urls.canonicalizeUrl),
    "graft_url_host" -> c1(Urls.host),
    "graft_registered_domain" -> c1(Urls.registeredDomain),
    // full-PSL registered domain: a native codegen expression probing
    // the jar-resident 9.5k-rule index — zero joins from SQL
    "graft_psl_domain" -> e1(PslDomain(_)),
    // crawl-ingest: markup → text (all of it / link-density-gated main)
    "graft_html_extract" -> c1(Html.htmlExtract),
    "graft_html_main" -> c1(Html.htmlMainText),
    // token accounting + quality gates
    "graft_tokenize" -> c1(TextAnalysis.tokenize),
    "graft_shingles" -> c1(c => graft.dedup.Dedup.shingles(c)),
    "graft_lang_id" -> c1(TextAnalysis.langId),
    "graft_mojibake_count" -> c1(TextAnalysis.mojibakeCount),
    "graft_replacement_count" -> c1(TextAnalysis.replacementCount),
    "graft_control_count" -> c1(TextAnalysis.controlCount),
    "graft_encoding_keep" -> c1(TextAnalysis.encodingKeep),
    // the fused front-door gate: struct(lang_pred, tok_cnt, quality) in
    // ONE tokenization pass (composing the separate functions re-splits
    // the text ~8x per row — the README's corpus-filter rationale)
    "graft_signals" -> c1(TextAnalysis.signals),
    "graft_token_count" -> c1(TextAnalysis.tokenCount),
    "graft_subword_count" -> c1(TextAnalysis.subwordCount),
    "graft_quality" -> c1(TextAnalysis.qualityScore),
    "graft_punct_ratio" -> c1(TextAnalysis.punctRatio),
    "graft_stopword_ratio" -> c1(TextAnalysis.stopwordRatio),
    "graft_mean_token_len" -> c1(TextAnalysis.meanTokenLen),
    // redaction + per-doc repetitiveness: the SQL-only consumer's FIX
    // functions, not just its gates (a corpus curator must be able to
    // scrub, not only drop, from plain SQL)
    "graft_pii_scrub" -> c1(TextAnalysis.scrubPii),
    "graft_repetition" -> c1(c => TextAnalysis.repetitionRatioScalar(c)),
    "graft_entropy" -> c1(c => TextAnalysis.unigramEntropyScalar(c)),
    // the 64-bit SimHash signature as its four 16-bit bands (array<int>,
    // index = band) — with graft_minhash_sig this completes the dedup-key
    // family reachable from SQL
    "graft_simhash64" -> c1(c => graft.dedup.Dedup.simhash64Array(c)),
    // script profiling / homoglyph-spoof counts (explicit code-point
    // ranges — public constants, so oracle SQL embeds the same patterns)
    "graft_latin_count" -> c1(TextAnalysis.latinCount),
    "graft_cyrillic_count" -> c1(TextAnalysis.cyrillicCount),
    "graft_cjk_count" -> c1(TextAnalysis.cjkCount),
    "graft_mixed_script_count" -> c1(TextAnalysis.mixedScriptCount),
    "graft_script_spoof" -> c1(TextAnalysis.scriptSpoofFlag),
    // dedup / spoof fingerprints
    "graft_fingerprint" -> c1(TextAnalysis.fingerprint),
    "graft_canonical_key" -> c1(TextExpressions.canonicalTextKey),
    "graft_homoglyph_fold" -> c1(TextAnalysis.homoglyphFold),
    // the near-dup KEY itself: 8-perm MinHash signature (array<bigint>)
    "graft_minhash_sig" -> c1(c => graft.dedup.Dedup.minhashSigArray(c)),
    // its LSH bucket keys (position = band): posexplode → candidate join
    "graft_minhash_bands" -> c1(c => graft.dedup.Dedup.minhashBandKeys(c)),
    // custom codegen expressions (unprefixed: their SQL names predate the table)
    "unicode_nfc" -> e1(UnicodeNormalize(_, "NFC")),
    "unicode_nfkc" -> e1(UnicodeNormalize(_, "NFKC")),
    "strip_accents" -> e1(StripAccents(_)),
    "vec_dot" -> e2(DotProduct(_, _)),
    "vec_cosine" -> e2(CosineSimilarity(_, _)),
  )

  private def e1(f: Expression => Expression): Seq[Expression] => Expression = {
    exprs =>
      require(exprs.length == 1, s"expected 1 argument, got ${exprs.length}")
      f(exprs.head)
  }

  private def e2(f: (Expression, Expression) => Expression): Seq[Expression] => Expression = {
    exprs =>
      require(exprs.length == 2, s"expected 2 arguments, got ${exprs.length}")
      f(exprs(0), exprs(1))
  }

  /** Register every function on an existing session (idempotent). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}

/** `spark.sql.extensions=graft.sql.GraftSqlExtensions` — build-time
  * injection of the same function table (see [[GraftSql]]).
  */
class GraftSqlExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit =
    GraftSql.functions.foreach { case (name, builder) =>
      extensions.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.sql.GraftSql", name), builder))
    }
}
