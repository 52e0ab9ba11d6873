package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis columns for a training-data pipeline: language ID,
  * quality scoring, token counting, fingerprinting. All pure Column
  * expressions — codegen'd, no UDFs, trivially distributed.
  *
  * No reference analog (the reference's text ops stop at tokenize/regex —
  * SURVEY.md §2.2); these are the 100 TB-corpus value-add mandated by the
  * build plan (SURVEY.md §7 step 10).
  */
object TextAnalysis {

  private def toks(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > lit(0))

  /** The library's whitespace tokenizer as a public Column — for callers
    * (bench diagnostics, external vocab counts) that must tokenize
    * EXACTLY like the index/count operators do.
    */
  def tokenize(text: Column): Column = toks(text)

  /** Tiny per-language stopword lists for the n-gram/stopword language-ID
    * heuristic. Deterministic, extendable; real corpora would load larger
    * lists via broadcast.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it"),
    "fr" -> Seq("le", "la", "et", "de", "un", "une", "est", "dans"),
    "es" -> Seq("el", "la", "y", "de", "un", "una", "es", "en"),
    "de" -> Seq("der", "die", "das", "und", "ein", "ist", "nicht", "von"),
  )

  /** Count of tokens belonging to `words` (with repeats). */
  def stopwordHits(text: Column, words: Seq[String]): Column = {
    val set = array(words.map(lit): _*)
    size(filter(toks(lower(text)), t => array_contains(set, t)))
  }

  /** Language-ID heuristic: argmax stopword-hit count across languages;
    * ties and zero evidence → "und" (undetermined). Tie-break is
    * alphabetical-first for determinism.
    */
  def langId(text: Column): Column = {
    val langs = stopwords.keys.toSeq.sorted
    val scores = langs.map(l => stopwordHits(text, stopwords(l)))
    val best = greatest(scores: _*)
    // Nested when-chain, earliest (alphabetically smallest) lang wins ties.
    langs.zip(scores).foldRight(lit("und"): Column) {
      case ((l, s), acc) => when(best > 0 && s === best, lit(l)).otherwise(acc)
    }
  }

  /** Number of languages whose stopword evidence reaches `minHits` —
    * the mixed-language gate's signal: a clean document has ONE
    * language with evidence; boilerplate-stitched or MT-glitched text
    * shows two or more. Pure codegen when-chain over the same stopword
    * scorer langId uses.
    */
  def langsDetected(text: Column, minHits: Int = 2): Column =
    stopwords.keys.toSeq.sorted.map { l =>
      when(stopwordHits(text, stopwords(l)) >= minHits, lit(1L))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** Flag documents with stopword evidence of ≥2 languages. */
  def mixedLangFlag(text: Column, minHits: Int = 2): Column =
    langsDetected(text, minHits) >= 2

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(toks(text))

  /** BPE-ish subword count: matches of word-pieces/numbers/punctuation —
    * a regex proxy for tokenizer cost accounting at corpus scale.
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** Punctuation ratio: punctuation chars / total chars. */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[^.,;:!?'\"()-]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** Stopword ratio (any language's stopwords) over token count. */
  def stopwordRatio(text: Column): Column = {
    val all = stopwords.values.flatten.toSeq.distinct
    stopwordHits(text, all).cast("double") /
      greatest(tokenCount(text), lit(1)).cast("double")
  }

  /** Mean token length — short-token text is boilerplate-ish. */
  def meanTokenLen(text: Column): Column = {
    val t = toks(text)
    aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") /
      greatest(size(t), lit(1)).cast("double")
  }

  /** Composite quality score in [0,1]: rewards mid-length docs and
    * stopword presence, penalizes punctuation soup. Weights are the
    * usual C4/Gopher-style heuristics, simplified and deterministic.
    */
  def qualityScore(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / lit(100.0), lit(1.0))
    val sw = least(stopwordRatio(text) * lit(5.0), lit(1.0))
    val punctPenalty = least(punctRatio(text) * lit(5.0), lit(1.0))
    round(lenScore * lit(0.4) + sw * lit(0.4) + (lit(1.0) - punctPenalty) * lit(0.2), 6)
  }

  /** Content-defined fingerprint: md5 over the sorted distinct token bag
    * (the classic key-collision clustering fingerprint).
    */
  def fingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(toks(lower(text)))), " "))

  /** Encoding-quality signals — the corrupt-text gate a crawl corpus
    * runs before any content filter (mojibake survives every downstream
    * heuristic because the TOKENS still look like words). Three
    * codegen'd regex counts that ride the scan; patterns stay inside the
    * Java-regex/RE2 common subset and are exported so oracle SQL embeds
    * the exact same strings.
    *
    * - mojibake: UTF-8 bytes re-decoded as Latin-1/cp1252 — a C3/C2 lead
    *   byte surfaces as Ã/Â followed by a continuation char in
    *   [U+0080,U+00BF], and the cp1252 picture of a curly-quote/ellipsis
    *   sequence starts â€ (U+00E2 U+20AC).
    * - replacement: U+FFFD, a decoder's explicit "byte salad was here".
    * - control: C0 controls minus \t\n\r — binary-in-text contamination.
    */
  val MojibakeRe =
    "[\\x{00C3}\\x{00C2}][\\x{0080}-\\x{00BF}]|\\x{00E2}\\x{20AC}."
  val ReplacementRe = "\\x{FFFD}"
  val ControlRe =
    "[\\x{0000}-\\x{0008}\\x{000B}\\x{000C}\\x{000E}-\\x{001F}]"

  def mojibakeCount(text: Column): Column =
    size(regexp_extract_all(text, lit(MojibakeRe), lit(0))).cast("long")

  def replacementCount(text: Column): Column =
    size(regexp_extract_all(text, lit(ReplacementRe), lit(0))).cast("long")

  def controlCount(text: Column): Column =
    size(regexp_extract_all(text, lit(ControlRe), lit(0))).cast("long")

  /** Zero-tolerance keep flag: any mojibake digraph, replacement char or
    * stray C0 control drops the document (re-crawling beats training on
    * byte salad; a threshold variant is one `<=` away).
    */
  def encodingKeep(text: Column): Column =
    mojibakeCount(text) === 0 && replacementCount(text) === 0 &&
      controlCount(text) === 0

  /** Script profiling + homoglyph-spoof detection — the dedup-evasion
    * complement of the encoding gate above: replacing Latin 'a'/'e'
    * with visually identical Cyrillic а/е defeats every byte-keyed
    * dedup while rendering identically, and the tell is MIXED-SCRIPT
    * adjacency (a Latin letter touching a Cyrillic one inside a word —
    * legitimate multilingual text switches scripts at word boundaries).
    * Explicit code-point ranges, not \\p{script=...} classes, because
    * Java regex and RE2 name scripts differently but agree on ranges.
    */
  val LatinRe = "[A-Za-z\\x{00C0}-\\x{024F}]"
  val CyrillicRe = "[\\x{0400}-\\x{04FF}]"
  val CjkRe = "[\\x{4E00}-\\x{9FFF}]"
  val MixedScriptRe =
    "[A-Za-z\\x{00C0}-\\x{024F}][\\x{0400}-\\x{04FF}]" +
      "|[\\x{0400}-\\x{04FF}][A-Za-z\\x{00C0}-\\x{024F}]"

  private def reCount(text: Column, re: String): Column =
    size(regexp_extract_all(text, lit(re), lit(0))).cast("long")

  def latinCount(text: Column): Column = reCount(text, LatinRe)
  def cyrillicCount(text: Column): Column = reCount(text, CyrillicRe)
  def cjkCount(text: Column): Column = reCount(text, CjkRe)

  /** Adjacent Latin↔Cyrillic pairs — the homoglyph-spoof signal. */
  def mixedScriptCount(text: Column): Column = reCount(text, MixedScriptRe)

  /** Zero-tolerance spoof flag: any intra-word script mix drops the doc
    * (route it to the normalization queue, not to training).
    */
  def scriptSpoofFlag(text: Column): Column = mixedScriptCount(text) > 0

  /** The FIX for what [[scriptSpoofFlag]] detects: fold the common
    * Cyrillic↔Latin confusables onto their Latin glyphs so spoofed
    * variants share a dedup key. One `translate` — codegen'd, identical
    * on any engine. (Both alphabets are public constants so oracle SQL
    * embeds the same mapping.)
    */
  val HomoglyphFrom = "аеорсхуі"
  val HomoglyphTo = "aeopcxyi"

  def homoglyphFold(text: Column): Column =
    translate(text, HomoglyphFrom, HomoglyphTo)

  /** PII scrubbing for training corpora: replace emails, IPv4 addresses,
    * and long digit runs (phone-class identifiers) with typed tags —
    * the standard pre-training redaction pass. Pure codegen'd
    * `regexp_replace` chain, no UDF; patterns deliberately stay inside
    * the Java-regex/RE2 common subset (no backrefs, no lookaround) so an
    * oracle engine replays them verbatim. Order matters and is part of
    * the contract: emails first (an email's digits must not be half-
    * scrubbed as a phone), then IPs (dotted digits, would otherwise
    * partially match the digit-run pattern), then digit runs.
    */
  val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiIpv4 = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PiiDigitRun = "\\b[0-9][0-9 ()+-]{6,}[0-9]\\b"

  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, PiiEmail, "<EMAIL>"),
        PiiIpv4, "<IP>"),
      PiiDigitRun, "<PHONE>")

  /** TF-IDF term relevance: the top-`topK` terms per document by
    * tf · (ln((1+N)/(1+df)) + 1) — the smoothed-idf formulation, so an
    * every-doc term still scores tf·1 rather than 0 and a never-seen df
    * cannot divide by zero. Scores round at 6 digits BEFORE the ranking
    * window, so cross-engine libm ulp differences in ln can neither
    * reorder rows nor flip the top-k cutoff (ties break on term).
    *
    * Plan shape at corpus scale: one tokenize+count shuffle for tf, one
    * term-keyed aggregate for df (df is NOT broadcast — a 100 TB corpus
    * vocabulary is itself huge; the term equi-join shuffles), the 1-row
    * corpus count rides a broadcast cross join, and the ranking window
    * partitions by doc — never a global sort. The tf table is
    * checkpointed: it feeds both the df aggregate and the join left, and
    * without the cut the tokenization explode plans twice (the shingle-
    * table discipline, see Dedup.ngramJaccardTracked).
    */
  def tfidf(docs: org.apache.spark.sql.DataFrame, topK: Int = 5,
            text: String = "text", id: String = "doc_id")
      : org.apache.spark.sql.DataFrame = {
    val tf = graft.ops.Checkpoints.truncate(
      docs.select(col(id), explode(toks(col(text))).as("term"))
        .groupBy(col(id), col("term")).agg(count(lit(1)).as("tf")))
    val n = docs.agg(count(lit(1)).as("_n"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") *
        (log((lit(1.0) + col("_n")) / (lit(1.0) + col("df"))) + lit(1.0)), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(id)).orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("_rn", row_number().over(w)).where(col("_rn") <= topK)
      .select(col(id), col("term"), col("tfidf"))
  }

  /** Inverted index (term → postings list) — the original MapReduce
    * motivating workload (the reference ships it as the canonical
    * example job; SURVEY.md §2.2's wordcount family is its degenerate
    * form). Output: one row per surviving term with its document
    * frequency and the postings rendered as `"doc:tf doc:tf …"` sorted
    * by doc id (string form keeps the result engine-comparable; the
    * struct array is a `transform` away for a typed consumer).
    *
    * Plan shape at corpus scale: one tokenize+count shuffle for tf, a
    * term-keyed df aggregate, then postings assembly. The scale hazard
    * is postings skew: a stop-word appearing in every document makes ONE
    * reducer materialize an n-entry list. The `maxDfFrac` gate (the IR
    * stop-list convention) is therefore applied to the df AGGREGATE and
    * joined back BEFORE `collect_list` runs — dropped terms never reach
    * assembly, so no reducer ever holds a stop-word's postings. The
    * assembly groupBy reuses the join's term partitioning (one exchange,
    * not two). The tf table feeds both the df aggregate and the join
    * left, so it is checkpointed (the tfidf discipline). For corpora
    * where even gated postings exceed executor memory, use
    * [[invertedIndexSegmented]].
    */
  def invertedIndex(docs: org.apache.spark.sql.DataFrame,
                    maxDfFrac: Double = 0.5,
                    text: String = "text", id: String = "doc_id")
      : org.apache.spark.sql.DataFrame = {
    require(maxDfFrac > 0 && maxDfFrac <= 1, "maxDfFrac must be in (0, 1]")
    val tf = graft.ops.Checkpoints.truncate(
      docs.select(col(id), explode(toks(col(text))).as("term"))
        .groupBy(col("term"), col(id)).agg(count(lit(1)).as("tf")))
    val n = docs.agg(count(lit(1)).as("_n"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .where(col("df") <= col("_n") * lit(maxDfFrac))
      .select(col("term"), col("df"))
    tf.join(df, "term")
      .groupBy(col("term"), col("df"))
      .agg(sort_array(collect_list(struct(col(id), col("tf")))).as("_p"))
      .select(col("term"), col("df"),
        array_join(transform(col("_p"),
          p => concat_ws(":", p.getField(id), p.getField("tf"))), " ")
          .as("postings"))
  }

  /** Segmented inverted index — the Lucene/search-engine architecture:
    * documents hash into `nSegments` disjoint segments (`doc_id mod
    * nSegments` — a pure function of the key, stable under corpus
    * growth) and postings are assembled per (segment, term). No postings
    * list can exceed its segment's document count regardless of term
    * frequency, which is the memory bound the global form cannot give;
    * queries fan out across segments and merge (exactly how a sharded
    * search index serves). The global `maxDfFrac` stop gate still
    * applies first — stop terms are dropped before any segment sees
    * them. Costs one more exchange than the global form (assembly keys
    * on (segment, term), not term), paid only by gate survivors.
    */
  def invertedIndexSegmented(docs: org.apache.spark.sql.DataFrame,
                             nSegments: Int, maxDfFrac: Double = 0.5,
                             text: String = "text", id: String = "doc_id")
      : org.apache.spark.sql.DataFrame = {
    require(nSegments >= 1, "nSegments must be >= 1")
    val tf = graft.ops.Checkpoints.truncate(
      docs.select(col(id), explode(toks(col(text))).as("term"))
        .groupBy(col("term"), col(id)).agg(count(lit(1)).as("tf")))
    val n = docs.agg(count(lit(1)).as("_n"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(n))
      .where(col("df") <= col("_n") * lit(maxDfFrac))
      .select(col("term"), col("df"))
    tf.join(df, "term")
      .withColumn("segment", pmod(col(id), lit(nSegments)).cast("long"))
      .groupBy(col("segment"), col("term"), col("df"))
      .agg(sort_array(collect_list(struct(col(id), col("tf")))).as("_p"))
      .select(col("segment"), col("term"), col("df"),
        array_join(transform(col("_p"),
          p => concat_ws(":", p.getField(id), p.getField("tf"))), " ")
          .as("postings"))
  }

  /** Token co-occurrence counts within a ±`window` token distance — the
    * collocation-extraction / word2vec-preprocessing workload. Pairs are
    * canonically ordered (alphabetical, so (a,b) and (b,a) accumulate
    * together) and generated as a pure Column 1→N expansion (nested
    * `sequence`/`transform` over positions, then one explode) — per-row
    * cost is tokens×window with NO self-join, so generation rides the
    * scan stage and the single shuffle is the pair-count aggregate with
    * map-side partials. At corpus scale the pair vocabulary (≤ unigram
    * vocab²; in practice Zipf-bounded) is the shuffled key space — the
    * `minCount` knob in [[pmiPairs]] prunes the hapax tail.
    */
  def cooccurrence(docs: org.apache.spark.sql.DataFrame, window: Int = 2,
                   text: String = "text", id: String = "doc_id")
      : org.apache.spark.sql.DataFrame = {
    require(window >= 1, "window must be >= 1")
    val t = docs.select(toks(col(text)).as("_t")).where(size(col("_t")) > 1)
    val pairs = flatten(transform(
      sequence(lit(1), size(col("_t")) - 1),
      i => transform(
        sequence(i + 1, least(i + lit(window), size(col("_t")))),
        j => struct(
          least(element_at(col("_t"), i), element_at(col("_t"), j)).as("a"),
          greatest(element_at(col("_t"), i), element_at(col("_t"), j)).as("b")))))
    t.select(explode(pairs).as("p"))
      .groupBy(col("p.a").as("term_a"), col("p.b").as("term_b"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Adjacent-bigram language-model count tables — what an n-gram LM
    * trainer consumes: `c(w1,w2)` plus, per right word, the number of
    * DISTINCT left contexts (the Kneser–Ney continuation-count
    * numerator: "how many contexts does w2 complete" rather than "how
    * often does w2 occur"). Ordered adjacency, unlike [[cooccurrence]]'s
    * canonically-sorted windowed pairs. Generation is the same pure
    * Column 1→N expansion riding the scan; then one pair-count shuffle,
    * a distinct-context aggregate, and a key-partitioned join on w2
    * (vocabulary-sized tables — shuffled, never broadcast, the tfidf df
    * discipline).
    */
  def bigramLm(docs: org.apache.spark.sql.DataFrame, text: String = "text")
      : org.apache.spark.sql.DataFrame = {
    val t = docs.select(toks(col(text)).as("_t")).where(size(col("_t")) > 1)
    val pairs = graft.ops.Checkpoints.truncate(
      t.select(explode(transform(
        sequence(lit(1), size(col("_t")) - 1),
        i => struct(element_at(col("_t"), i).as("w1"),
          element_at(col("_t"), i + 1).as("w2")))).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2")))
    val cnt = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
    val cont = pairs.distinct()
      .groupBy("w2").agg(count(lit(1)).as("cont_w2"))
    cnt.join(cont, "w2").select(col("w1"), col("w2"), col("cnt"), col("cont_w2"))
  }

  /** Pointwise mutual information over [[cooccurrence]] pairs:
    * `ln( (cnt/totPairs) / ((cntA/totTok)·(cntB/totTok)) )`, rounded at
    * 6 digits — written in exactly that association order so a replaying
    * engine computes bit-identical doubles before the round. Marginals
    * are corpus unigram frequencies; both scalar totals ride 1-row
    * broadcast cross joins. The marginal joins key on term and SHUFFLE
    * (the tfidf df discipline — a 100 TB corpus vocabulary is itself too
    * big to broadcast); `minCount` prunes the hapax pair tail at the
    * count aggregate, before either join pays for it.
    */
  def pmiPairs(docs: org.apache.spark.sql.DataFrame, window: Int = 2,
               minCount: Long = 2, text: String = "text",
               id: String = "doc_id"): org.apache.spark.sql.DataFrame = {
    val tok = graft.ops.Checkpoints.truncate(
      docs.select(explode(toks(col(text))).as("term")))
    val freq = tok.groupBy("term").agg(count(lit(1)).as("c"))
    val totTok = tok.agg(count(lit(1)).as("_tot"))
    // totPairs is the UNFILTERED pair mass (p(a,b) keeps its meaning
    // regardless of minCount); the co table feeds both the total and the
    // output, so it is checkpointed (the tfidf tf discipline).
    val co = graft.ops.Checkpoints.truncate(cooccurrence(docs, window, text, id))
    val totPairs = co.agg(sum(col("cnt")).as("_tp"))
    co.where(col("cnt") >= lit(minCount))
      .join(freq.select(col("term").as("term_a"), col("c").as("_ca")), "term_a")
      .join(freq.select(col("term").as("term_b"), col("c").as("_cb")), "term_b")
      .crossJoin(broadcast(totPairs))
      .crossJoin(broadcast(totTok))
      .select(col("term_a"), col("term_b"), col("cnt"),
        round(log(
          (col("cnt").cast("double") / col("_tp")) /
            ((col("_ca").cast("double") / col("_tot")) *
             (col("_cb").cast("double") / col("_tot")))), 6).as("pmi"))
  }

  /** Document chunking for training pipelines: token windows of size
    * `window` starting every `stride` tokens — the standard
    * sliding-window split applied before tokenization/embedding. Chunk
    * starts are 0, stride, 2·stride, … while < token count, so every
    * token is covered and trailing chunks may be shorter than `window`
    * (the usual overlap-stride contract). A 1→N generator in pure
    * Column ops (sequence → transform/slice → posexplode): per-row cost
    * is linear in tokens, no UDF, no shuffle at all — chunking is
    * embarrassingly parallel and stays inside the scan stage at any
    * corpus size. Empty docs yield no chunks.
    */
  def chunk(docs: org.apache.spark.sql.DataFrame, window: Int, stride: Int,
            text: String = "text", id: String = "doc_id")
      : org.apache.spark.sql.DataFrame = {
    require(window >= 1 && stride >= 1, s"window/stride must be >= 1")
    val t = docs.select(col(id), toks(col(text)).as("_t"))
      .where(size(col("_t")) > 0)
    val chunks = transform(
      sequence(lit(0), size(col("_t")) - 1, lit(stride)),
      s => array_join(slice(col("_t"), s + 1, lit(window)), " "))
    t.select(col(id), posexplode(chunks).as(Seq("chunk_id", "chunk_text")))
      .select(col(id), col("chunk_id").cast("long").as("chunk_id"),
        col("chunk_text"))
  }

  /** Let-binding (same technique as `Dedup.bindOnce`, see the scaladoc
    * there): Catalyst re-inlines plain aliases into every use site, so an
    * expensive shared subexpression runs once per use; a lambda variable
    * is opaque to the optimizer and evaluates once per row.
    */
  private def bindOnce(value: Column, body: Column => Column): Column =
    graft.ColumnUtil.bindOnce(value, body)

  /** ALL scan-side signals from ONE tokenization pass:
    * struct(lang_pred, tok_cnt, quality), arithmetic identical to
    * [[langId]]/[[tokenCount]]/[[qualityScore]] (the per-signal DuckDB
    * oracles stay valid for the fused form).
    *
    * Computed by the codegen
    * [[graft.functions.TextSignals]] expression — one primitive pass
    * over the document bytes instead of the interpreted-HOF composition
    * retained below as [[signalsHof]] (SignalsPropSpec pins the two
    * field-for-field, nulls and unicode included; the per-field DuckDB
    * oracles hold unchanged).
    */
  def signals(text: Column): Column =
    graft.functions.TextSignalsExpressions.textSignals(text)

  /** The higher-order-function composition of [[signals]] — the
    * differential twin SignalsPropSpec replays against the codegen
    * expression. The raw and lowered token arrays bind once per row —
    * the separate functions each re-split the text (~8 splits + 5
    * lowers per row when composed).
    */
  private[graft] def signalsHof(text: Column): Column =
    bindOnce(toks(text), t => bindOnce(toks(lower(text)), lt => {
      def hits(words: Seq[String]): Column = {
        val set = array(words.map(lit): _*)
        size(filter(lt, x => array_contains(set, x)))
      }
      val langs = stopwords.keys.toSeq.sorted
      val scores = langs.map(l => hits(stopwords(l)))
      val best = greatest(scores: _*)
      val lang = langs.zip(scores).foldRight(lit("und"): Column) {
        case ((l, s), acc) => when(best > 0 && s === best, lit(l)).otherwise(acc)
      }
      val tokCnt = size(t)
      val lenScore = least(tokCnt.cast("double") / lit(100.0), lit(1.0))
      val swRatio = hits(stopwords.values.flatten.toSeq.distinct).cast("double") /
        greatest(tokCnt, lit(1)).cast("double")
      val sw = least(swRatio * lit(5.0), lit(1.0))
      val punctPenalty = least(punctRatio(text) * lit(5.0), lit(1.0))
      val quality = round(lenScore * lit(0.4) + sw * lit(0.4)
        + (lit(1.0) - punctPenalty) * lit(0.2), 6)
      struct(lang.as("lang_pred"), tokCnt.cast("long").as("tok_cnt"),
        quality.as("quality"))
    }))

  /** BM25 term relevance (the Robertson–Spärck Jones probabilistic
    * weighting, in Lucene's always-positive idf form): top-`topK` terms
    * per document by
    *   ln(1 + (N − df + 0.5)/(df + 0.5)) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
    * `dl` is the document's token count and `avgdl = corpusTokens / N`
    * (exact longs, so the double arithmetic is bit-identical on any
    * engine). Same portability discipline as [[tfidf]]: scores round at
    * 6 BEFORE the per-doc ranking window — libm ulp differences in ln
    * cannot reorder rows or flip the top-k cutoff — and ties break on
    * term. Same plan shape too: checkpointed tf feeds df, dl, and the
    * join left; df and dl shuffle on their keys (never broadcast — both
    * scale with the corpus); the two 1-row scalars ride broadcast cross
    * joins; the ranking window partitions by doc, never a global sort.
    */
  /** The (doc, term, bm25) score table both [[bm25]] (per-doc top terms)
    * and [[bm25Search]] (query-time retrieval) rank over.
    */
  def bm25Scores(docs: org.apache.spark.sql.DataFrame,
                 k1: Double = 1.2, b: Double = 0.75,
                 text: String = "text", id: String = "doc_id")
      : org.apache.spark.sql.DataFrame = {
    val tf = graft.ops.Checkpoints.truncate(
      docs.select(col(id), explode(toks(col(text))).as("term"))
        .groupBy(col(id), col("term")).agg(count(lit(1)).as("tf")))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val dl = tf.groupBy(col(id)).agg(sum(col("tf")).as("dl"))
    val n = docs.agg(count(lit(1)).as("_n"))
    val tot = tf.agg(sum(col("tf")).as("_tottok"))
    tf.join(df, "term").join(dl, id)
      .crossJoin(broadcast(n)).crossJoin(broadcast(tot))
      .withColumn("bm25", round(
        log(lit(1.0) + (col("_n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0) - lit(b)
            + lit(b) * col("dl") * col("_n") / col("_tottok"))), 6))
      .select(col(id), col("term"), col("bm25"))
  }

  def bm25(docs: org.apache.spark.sql.DataFrame, topK: Int = 5,
           k1: Double = 1.2, b: Double = 0.75,
           text: String = "text", id: String = "doc_id")
      : org.apache.spark.sql.DataFrame = {
    val scored = bm25Scores(docs, k1, b, text, id)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(id)).orderBy(col("bm25").desc, col("term"))
    scored.withColumn("_rn", row_number().over(w)).where(col("_rn") <= topK)
      .select(col(id), col("term"), col("bm25"))
  }

  /** Query-time BM25 retrieval — the SEARCH side of the index family:
    * for each query string, the topK documents by summed BM25 over the
    * query's distinct terms (the standard bag-of-words ranking the
    * inverted index serves).
    *
    * Scale shape: the query set is metadata-sized and BROADCASTS against
    * the (doc, term) score table — the corpus never reshuffles per
    * query; the per-query candidate set is the union of the query
    * terms' postings, ranked by a WindowGroupLimit-bounded top-k.
    * Determinism: per-term scores are round-6; the per-doc sum runs in
    * 1e-6 integer space (quantize → BIGINT sum → one final division) so
    * aggregation order can never move a bit.
    */
  def bm25Search(docs: org.apache.spark.sql.DataFrame,
                 queries: Seq[(Long, String)], topK: Int = 10,
                 k1: Double = 1.2, b: Double = 0.75,
                 text: String = "text", id: String = "doc_id")
      : org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qTerms = broadcast(queries.flatMap { case (qid, q) =>
      q.split("\\s+").filter(_.nonEmpty).distinct.map(t => (qid, t))
    }.toDF("query_id", "term"))
    val hits = bm25Scores(docs, k1, b, text, id)
      .join(qTerms, "term")
      .groupBy(col("query_id"), col(id))
      .agg(sum(round(col("bm25") * lit(1e6), 0).cast("long")).as("_s6"))
      .withColumn("score", round(col("_s6").cast("double") / lit(1e6), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("score").desc, col(id))
    hits.withColumn("rank", row_number().over(w)).where(col("rank") <= topK)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col(id), col("score"))
  }

  /** Incremental inverted-index maintenance — the postings delta between
    * two corpus snapshots, touching ONLY churned documents (the text
    * twin of q_ivf_incremental's cell worklist): snapshot diff isolates
    * added/removed/changed ids (one co-partitioned fingerprint join,
    * output bounded by churn), only those docs re-tokenize, and a
    * ±1 vote per (term, doc, version) cancels the terms a changed doc
    * kept — so an edit that appends one word emits ONE posting, not the
    * document's whole vocabulary. 1% churn costs 1%; the standing index
    * is never rebuilt.
    */
  def invertedIndexDelta(oldDocs: org.apache.spark.sql.DataFrame,
                         newDocs: org.apache.spark.sql.DataFrame,
                         text: String = "text", id: String = "doc_id")
      : org.apache.spark.sql.DataFrame = {
    val diff = graft.ops.Checkpoints.truncate(
      graft.ops.Cdc.snapshotDiff(oldDocs, newDocs, Seq(id), Seq(text)))
    def sideTerms(docs: org.apache.spark.sql.DataFrame, statuses: Seq[String],
                  vote: Int) =
      docs.join(diff.where(col("status").isin(statuses: _*)).select(id),
          Seq(id), "left_semi")
        .select(col(id), explode(array_distinct(toks(col(text)))).as("term"))
        .withColumn("_v", lit(vote.toLong))
    sideTerms(oldDocs, Seq("removed", "changed"), -1)
      .unionByName(sideTerms(newDocs, Seq("added", "changed"), 1))
      .groupBy(col("term"), col(id))
      .agg(sum(col("_v")).as("_d"))
      .where(col("_d") =!= 0)
      .select(col("term"), col(id),
        when(col("_d") > 0, lit("add")).otherwise(lit("del")).as("op"))
  }

  /** Positional phrase search — exact consecutive-token phrase
    * occurrences per document, the positional-index counterpart of
    * [[bm25Search]]'s bag-of-words ranking. Classic offset
    * intersection: every (position, phrase-offset) hit votes for the
    * candidate start `pos − off`; a start where ALL plen offsets voted
    * is an occurrence (repeated phrase terms are handled for free —
    * votes are distinct by offset).
    *
    * Scale shape: the phrase table (term, offset) is metadata-sized and
    * BROADCASTS against the positional token stream — the corpus is
    * scanned once and shuffles only matched (phrase, doc, start) votes
    * (query-term-postings-sized, not corpus-sized). All-integer
    * arithmetic end to end.
    */
  def phraseSearch(docs: org.apache.spark.sql.DataFrame,
                   phrases: Seq[(Long, String)],
                   text: String = "text", id: String = "doc_id")
      : org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qt = broadcast(phrases.flatMap { case (pid, p) =>
      val ts = p.split("\\s+").filter(_.nonEmpty)
      ts.zipWithIndex.map { case (t, o) =>
        (pid, o.toLong, t, ts.length.toLong)
      }
    }.toDF("phrase_id", "off", "term", "plen"))
    val pos = docs.select(col(id),
      posexplode(toks(col(text))).as(Seq("pos", "term")))
    pos.join(qt, "term")
      .groupBy(col("phrase_id"), col(id),
        (col("pos") - col("off")).as("start"), col("plen"))
      .agg(count(lit(1)).as("_nm"))
      .where(col("_nm") === col("plen") && col("start") >= 0)
      .groupBy(col("phrase_id"), col(id))
      .agg(count(lit(1)).as("n_occurrences"))
  }

  /** Unigram log-probability per document — the cheap perplexity-style
    * quality proxy (the degenerate unigram form of LM-based corpus
    * filtering): mean over the doc's tokens of
    * log10(corpusCount(token)/corpusTokens). Gibberish-heavy documents
    * (many corpus-rare tokens) score far below the corpus average.
    * The unigram table is a token-keyed aggregate (never broadcast —
    * vocabulary scales with the corpus; the term equi-join shuffles);
    * the corpus total rides a 1-row broadcast cross join; the token
    * stream is checkpointed (three consumers: frequency table, total,
    * join left). Per-token logs round at 9 before the mean and the mean
    * at 6 ([[graft.sim.Similarity.meanPool]]'s quantization discipline)
    * so partitioning and libm ulps cannot move the result.
    */
  def unigramLogProb(docs: org.apache.spark.sql.DataFrame,
                     text: String = "text", id: String = "doc_id")
      : org.apache.spark.sql.DataFrame = {
    val tok = graft.ops.Checkpoints.truncate(
      docs.select(col(id), explode(toks(col(text))).as("term")))
    val freq = tok.groupBy("term").agg(count(lit(1)).as("cnt"))
    val tot = tok.agg(count(lit(1)).as("_tot"))
    tok.join(freq, "term").crossJoin(broadcast(tot))
      .withColumn("lp", round(log10(col("cnt").cast("double") / col("_tot")), 9))
      .groupBy(col(id)).agg(round(avg(col("lp")), 6).as("unigram_logprob"))
  }

  /** CCNet-style LM perplexity filter (Wenzek et al. 2020,
    * arXiv:1911.00359), with the interpolated Kneser–Ney bigram model of
    * Chen & Goodman 1998: per document, the mean log10 of
    * `P_KN(w2|w1) = max(c(w1,w2)−D, 0)/c(w1·) +
    * (D·N1+(w1,·)/c(w1·)) · N1+(·,w2)/N1+(··)` over its adjacent
    * bigrams, plus `kept = score ≥ threshold`. The score is the
    * (negated-log) perplexity in monotone form — `ppl = 10^−score` —
    * kept in log space so both engines compare bit-identical doubles
    * (a `pow` would cross libm implementations).
    *
    * Model tables ([[bigramLm]]'s counts plus the left-context
    * marginals) are vocabulary-keyed aggregates of ONE pair expansion:
    * the doc-bigram stream is checkpointed and feeds both the model
    * build and the scoring join, so the corpus is tokenized once. All
    * model joins shuffle on their word keys (vocabulary scales with the
    * corpus — never broadcast, the tfidf df discipline; stop-word skew
    * on the w1/w2 marginal joins is AQE's skew-join case); the single
    * distinct-bigram total rides a 1-row broadcast. Per-bigram logs
    * round at 9 before the mean and the mean at 6 so partitioning and
    * libm ulps cannot move the verdict.
    */
  def knDocScores(docs: org.apache.spark.sql.DataFrame,
                  discount: Double = 0.75, threshold: Double = -1.4755,
                  text: String = "text", id: String = "doc_id")
      : org.apache.spark.sql.DataFrame = {
    val pairs = graft.ops.Checkpoints.truncate(
      docs.select(col(id), toks(col(text)).as("_t"))
        .where(size(col("_t")) > 1)
        .select(col(id), explode(transform(
          sequence(lit(1), size(col("_t")) - 1),
          i => struct(element_at(col("_t"), i).as("w1"),
            element_at(col("_t"), i + 1).as("w2")))).as("p"))
        .select(col(id), col("p.w1").as("w1"), col("p.w2").as("w2")))
    val cnt = graft.ops.Checkpoints.truncate(
      pairs.groupBy("w1", "w2").agg(count(lit(1)).as("cnt")))
    val left = cnt.groupBy("w1")
      .agg(sum(col("cnt")).as("c1"), count(lit(1)).as("fan1"))
    val cont = cnt.groupBy("w2").agg(count(lit(1)).as("cont2"))
    val nbi = cnt.agg(count(lit(1)).as("_nbi"))
    val d = lit(discount)
    // written in exactly the oracle's association order — see q_perplexity_filter
    val p = greatest(col("cnt") - d, lit(0.0)) / col("c1") +
      (d * col("fan1") / col("c1")) *
        (col("cont2").cast("double") / col("_nbi"))
    pairs.join(cnt, Seq("w1", "w2"))
      .join(left, "w1").join(cont, "w2")
      .crossJoin(broadcast(nbi))
      .withColumn("lp", round(log10(p), 9))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("lp")), 6).as("kn_logprob"))
      .withColumn("kept", col("kn_logprob") >= lit(threshold))
  }

  /** Gopher-style n-gram repetition signals (Rae et al. 2021,
    * arXiv:2112.11446, Table A1 family), char-weighted: per document,
    * `top_ngram_char_frac` = chars covered by occurrences of the single
    * most frequent word n-gram / chars covered by all n-gram
    * occurrences, and `dup_ngram_char_frac` = chars covered by n-grams
    * occurring more than once / the same denominator. Char-weighting is
    * what the published thresholds use — a doc repeating one LONG
    * boilerplate phrase scores higher than [[repetitionRatio]] (pure
    * occurrence counts) reveals. Overlapping occurrences each count
    * (the standard practical simplification), and the occurrence-mass
    * denominator keeps both signals in [0, 1]. Distributive: one
    * explode + per-(doc, gram) partial counts + one per-doc aggregate —
    * never per-row quadratic array lambdas.
    */
  def ngramCharFractions(docs: org.apache.spark.sql.DataFrame, n: Int = 3,
                         text: String = "text", id: String = "doc_id")
      : org.apache.spark.sql.DataFrame = {
    val grams = docs.select(col(id),
      explode(graft.dedup.Dedup.shingles(col(text), n)).as("g"))
    grams.groupBy(col(id), col("g")).agg(count(lit(1)).as("c"))
      .withColumn("chars", col("c") * length(col("g")))
      .groupBy(col(id))
      .agg(max(col("chars")).as("topc"),
        coalesce(sum(when(col("c") > 1, col("chars"))), lit(0L)).as("dupc"),
        sum(col("chars")).as("tot"))
      .select(col(id),
        round(col("topc").cast("double") / greatest(col("tot"), lit(1L)), 6)
          .as("top_ngram_char_frac"),
        round(col("dupc").cast("double") / greatest(col("tot"), lit(1L)), 6)
          .as("dup_ngram_char_frac"))
  }

  /** Per-document unigram Shannon entropy (bits) over the doc's OWN
    * token distribution — the repetitiveness signal orthogonal to
    * [[repetitionRatio]]: a doc that cycles a small vocabulary scores
    * low entropy even when no single n-gram dominates. Computed in the
    * `H = log2(n) − (Σ c·log2 c)/n` form with each `c·log2 c` term
    * quantized to a 1e-9-integer (BIGINT) BEFORE the cross-row sum —
    * the repo-wide discipline that keeps the sum partition-order-free
    * (hapax terms contribute exactly 0); the result rounds at 6.
    * Plan shape: one (doc, term) partial-agg shuffle then a per-doc
    * aggregate — no vocabulary table, no join at all, so the operator
    * is two map-side-combined passes regardless of corpus size. Docs
    * with zero tokens yield no row (the [[unigramLogProb]] contract).
    */
  def unigramEntropy(docs: org.apache.spark.sql.DataFrame,
                     text: String = "text", id: String = "doc_id")
      : org.apache.spark.sql.DataFrame = {
    docs.select(col(id), explode(toks(col(text))).as("term"))
      .groupBy(col(id), col("term")).agg(count(lit(1)).as("c"))
      .groupBy(col(id))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(round(col("c") * log2(col("c")) * lit(1e9), 0).cast("long"))
          .as("_clc9"))
      .select(col(id), col("n_tokens"), col("n_distinct"),
        round(log2(col("n_tokens"))
            - (col("_clc9") / lit(1e9)) / col("n_tokens"), 6)
          .as("entropy"))
  }

  /** Sequence-length bucketing with padding-waste accounting — the
    * fixed-shape-batch packing audit every training pipeline runs:
    * each doc lands in the smallest `ladder` rung ≥ its token count
    * (docs beyond the top rung clamp to it — their surplus is the
    * chunker's job, see [[chunk]]), and per rung the report gives doc
    * count, real tokens, padding tokens (`rung − min(len, rung)` summed)
    * and `pad_frac` = padding / (n_docs·rung) — the fraction of batch
    * compute a fixed-shape trainer would burn on pad. All-integer until
    * the single final ratio (round 6), so the result is bit-stable on
    * any engine. Plan shape: the bucket decision is a scan-side
    * when-chain; the only shuffle is the |ladder|-row aggregate —
    * embarrassingly scalable.
    */
  def lengthBuckets(docs: org.apache.spark.sql.DataFrame,
                    ladder: Seq[Int] = Seq(16, 32, 64, 128, 256, 512),
                    text: String = "text", id: String = "doc_id")
      : org.apache.spark.sql.DataFrame = {
    require(ladder.nonEmpty && ladder == ladder.sorted && ladder.head >= 1,
      "ladder must be ascending positive rungs")
    val bucket = ladder.init.foldRight(lit(ladder.last.toLong): Column) {
      case (b, acc) => when(col("_n") <= b, lit(b.toLong)).otherwise(acc)
    }
    docs.select(size(toks(col(text))).cast("long").as("_n"))
      .withColumn("bucket", bucket)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_n")).as("n_tokens"),
        sum(col("bucket") - least(col("_n"), col("bucket"))).as("pad_tokens"))
      .select(col("bucket"), col("n_docs"), col("n_tokens"), col("pad_tokens"),
        round(col("pad_tokens").cast("double") /
          (col("n_docs") * col("bucket")), 6).as("pad_frac"))
  }

  /** Repetition ratio (Gopher-style): fraction of word n-gram occurrences
    * taken by the single most frequent n-gram — boilerplate/spam detector.
    * Computed distributively (explode + per-(doc, gram) partial counts,
    * then per-doc max/sum in one more agg) — NOT per-row array lambdas,
    * which would be O(grams²) per document.
    */
  def repetitionRatio(docs: org.apache.spark.sql.DataFrame, n: Int = 3,
                      text: String = "text", id: String = "doc_id")
      : org.apache.spark.sql.DataFrame = {
    val grams = docs.select(col(id),
      explode(graft.dedup.Dedup.shingles(col(text), n)).as("g"))
    grams.groupBy(col(id), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col(id)).agg(
        round(max(col("c")).cast("double") / sum(col("c")).cast("double"), 6)
          .as("rep_ratio"))
  }

  /** Run lengths of a PRE-SORTED array — the multiset of per-value
    * occurrence counts, in O(n) array ops: run starts are the indices
    * whose element differs from its predecessor, lengths the gaps
    * between consecutive starts. The per-doc frequency table the scalar
    * forms of [[unigramEntropy]]/[[repetitionRatio]] fold over (a
    * `transform(array_distinct, count-occurrences)` formulation would
    * be O(n·distinct) per document — quadratic on repetitive docs, the
    * exact shape those gates exist to catch).
    */
  private def runLengths(sorted: Column): Column =
    bindOnce(sorted, gs =>
      // <= 0 covers NULL arrays too (size(null) = -1 under legacy
      // sizeOfNull): without it a null input would descend into
      // sequence(1, -1) — every current caller guards nulls upstream,
      // but the helper must be safe for ones that don't
      when(size(gs) <= 0, array().cast("array<int>"))
        .otherwise(bindOnce(
          filter(sequence(lit(1), size(gs)), i =>
            (i === 1) || (element_at(gs, i) =!= element_at(gs, i - 1))),
          starts => zip_with(
            starts,
            concat(slice(starts, lit(2), greatest(size(starts) - 1, lit(0))),
              array(size(gs) + 1)),
            (st, en) => en - st))))

  /** [[unigramEntropy]]'s per-doc value as a SCALAR Column — what the
    * SQL surface registers as `graft_entropy`. Identical arithmetic:
    * H = log2(n) − (Σ round(c·log2 c · 1e9)::BIGINT / 1e9) / n over the
    * doc's own token run-lengths; the per-term quantized integers make
    * the fold order-free, so the scalar equals the aggregate path row
    * for row. NULL for null text and zero-token docs — the aggregate
    * path emits no row for those. Zero shuffle: rides the scan.
    */
  def unigramEntropyScalar(text: Column): Column =
    bindOnce(toks(text), ts =>
      when(size(ts) > 0,
        bindOnce(runLengths(array_sort(ts)), cs =>
          round(log2(size(ts)) -
            (aggregate(cs, lit(0L), (acc, c) =>
              acc + round(c.cast("long") * log2(c) * lit(1e9), 0).cast("long"))
              / lit(1e9)) / size(ts), 6))))

  /** [[repetitionRatio]]'s per-doc value as a SCALAR Column
    * (`graft_repetition` on the SQL surface): the most frequent word
    * n-gram's share of all n-gram occurrences, from the sorted shingle
    * run-lengths. NULL for null text; a doc shorter than n words
    * shingles to the whole text (ratio 1.0) exactly like the aggregate
    * path.
    */
  def repetitionRatioScalar(text: Column, n: Int = 3): Column =
    bindOnce(runLengths(array_sort(graft.dedup.Dedup.shingles(text, n))), cs =>
      when(size(cs) > 0,
        round(array_max(cs).cast("double") /
          aggregate(cs, lit(0L), (a, c) => a + c).cast("double"), 6)))

  /** Source-profiling audit: the topK most DISTINCTIVE terms per source
    * by the Dirichlet-prior log-odds z-score of Monroe et al. 2008
    * ("Fightin' Words"), flat prior α=1/2 — what a raw frequency top-k
    * cannot answer because corpus-common words dominate every source.
    * δ = ln[(c_sw+α)/(n_s+α₀−c_sw−α)] − ln[(c_rw+α)/(n_r+α₀−c_rw−α)]
    * (r = rest of corpus, α₀ = V/2), z = δ/√(1/(c_sw+α)+1/(c_rw+α)).
    *
    * Scale: one tokenize pass → (source, term) counts; term totals are
    * a vocabulary-keyed rollup of those counts (shuffles vocabulary,
    * never broadcast — the tfidf df discipline); source totals and the
    * (N, V) scalars broadcast. z is a pure per-row scalar over exact
    * integer-plus-half values — no cross-row double summation — so it
    * is engine-replayable with one round at 6; ranking cuts on the
    * rounded z with a term tie-break via the WindowGroupLimit-bounded
    * per-source window.
    */
  def sourceLogOdds(docs: org.apache.spark.sql.DataFrame, topK: Int = 5,
                    source: String = "source", text: String = "text")
      : org.apache.spark.sql.DataFrame = {
    val csw = docs.select(col(source), explode(toks(col(text))).as("term"))
      .groupBy(col(source), col("term")).agg(count(lit(1)).as("csw"))
    val cw = csw.groupBy("term").agg(sum("csw").as("cw"))
    val ns = csw.groupBy(source).agg(sum("csw").as("ns"))
    val tot = cw.agg(sum("cw").as("n"), count(lit(1)).as("v"))
    val j = csw.join(cw, "term").join(broadcast(ns), source)
      .crossJoin(broadcast(tot))
    val a0 = col("v").cast("double") / lit(2.0)
    val sW = col("csw").cast("double")
    val rW = (col("cw") - col("csw")).cast("double")
    val nS = col("ns").cast("double")
    val nR = (col("n") - col("ns")).cast("double")
    val delta =
      log((sW + lit(0.5)) / (nS + a0 - sW - lit(0.5))) -
      log((rW + lit(0.5)) / (nR + a0 - rW - lit(0.5)))
    val z = round(delta / sqrt(lit(1.0) / (sW + lit(0.5))
      + lit(1.0) / (rW + lit(0.5))), 6)
    val scored = j.select(col(source), col("term"), z.as("z_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(source)).orderBy(col("z_score").desc, col("term"))
    scored.withColumn("_rn", row_number().over(w)).where(col("_rn") <= topK)
      .select(col(source), col("term"), col("z_score"),
        col("_rn").cast("long").as("rank"))
  }

  /** Per-label token frequency table with both rank directions — the
    * shared base of [[zipfFit]] and [[tokenGini]]: one explode + one
    * (label, term) count, then vocabulary-keyed ranking windows.
    * Everything downstream of the count is vocabulary-sized, so the
    * corpus is scanned once and never re-shuffled.
    */
  private def termRanks(docs: org.apache.spark.sql.DataFrame,
                        label: String, text: String)
      : org.apache.spark.sql.DataFrame = {
    val cnt = docs
      .select(col(label), explode(toks(col(text))).as("term"))
      .groupBy(col(label), col("term")).agg(count(lit(1)).as("c"))
    val desc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(label)).orderBy(col("c").desc, col("term"))
    val asc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(label)).orderBy(col("c").asc, col("term"))
    cnt.withColumn("r", row_number().over(desc))
      .withColumn("i", row_number().over(asc))
  }

  /** Zipf-law fit per label: OLS of ln(count) on ln(rank) over the
    * frequency-ranked vocabulary — slope ≈ −1 is the natural-language
    * signature; a flat slope flags synthetic/templated data, a cliff
    * flags boilerplate domination. Corpus-health audit row, one per
    * label, alongside the entropy/fertility family.
    *
    * Determinism: logs are quantized to 1e-9 integers (the repo's
    * round(ln·1e9) discipline) and ALL moment sums run in exact
    * decimal(38,0) — a long would overflow Σx·y once the vocabulary
    * passes ~1e8 terms — so both engines reduce identical integers in
    * any order; doubles appear only in the final ratio, written with
    * identical association and rounded at 6. Labels with a single
    * distinct term are dropped (the fit is undefined: zero rank
    * variance). Scale: the OLS runs entirely on the vocabulary-keyed
    * count table; the output is one row per label.
    */
  def zipfFit(docs: org.apache.spark.sql.DataFrame, label: String = "lang",
              text: String = "text"): org.apache.spark.sql.DataFrame = {
    val dec = "decimal(38,0)"
    val q = termRanks(docs, label, text).select(col(label),
      round(log(col("r").cast("double")) * lit(1e9), 0).cast(dec).as("x"),
      round(log(col("c").cast("double")) * lit(1e9), 0).cast(dec).as("y"))
    val a = q.groupBy(col(label)).agg(
      count(lit(1)).cast(dec).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
      .where(col("n") > 1)
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    val dny = col("n") * col("syy") - col("sy") * col("sy")
    a.select(col(label), col("n").cast("long").as("n_terms"),
      round(num.cast("double") / den.cast("double"), 6).as("slope"),
      round((col("sy").cast("double")
          - (num.cast("double") / den.cast("double")) * col("sx").cast("double"))
        / col("n").cast("double") / lit(1e9), 6).as("intercept"),
      when(dny === lit(0), lit(0.0)).otherwise(
        round((num.cast("double") * num.cast("double"))
          / (den.cast("double") * dny.cast("double")), 6)).as("r2"))
  }

  /** Gini coefficient of the token-frequency distribution per label —
    * the inequality/diversity audit (0 = uniform usage, →1 = a few
    * tokens dominate). Uses the closed form over ascending-sorted
    * counts, G = (2·Σi·cᵢ − (n+1)·Σcᵢ) / (n·Σcᵢ), so everything is an
    * exact integer until the final ratio (decimal(38,0) sums — rank ×
    * count products pass a long near 1e9-term vocabularies). Same
    * vocabulary-sized shape as [[zipfFit]]; one row per label.
    */
  def tokenGini(docs: org.apache.spark.sql.DataFrame, label: String = "lang",
                text: String = "text"): org.apache.spark.sql.DataFrame = {
    val dec = "decimal(38,0)"
    val a = termRanks(docs, label, text)
      .select(col(label), col("i").cast(dec).as("i"), col("c").cast(dec).as("c"))
      .groupBy(col(label)).agg(
        count(lit(1)).cast(dec).as("n"),
        sum(col("c")).as("s"),
        sum(col("i") * col("c")).as("sic"))
    a.select(col(label), col("n").cast("long").as("n_terms"),
      round((lit(2).cast(dec) * col("sic")
          - (col("n") + lit(1).cast(dec)) * col("s")).cast("double")
        / (col("n") * col("s")).cast("double"), 6).as("gini"))
  }
}
