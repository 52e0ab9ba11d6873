package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.agg.Aggregates
import graft.dedup.Dedup
import graft.join.Joins
import graft.ops.{FieldSelection, KeyFieldSpec, Sampling, TextOps}
import graft.sim.Similarity
import graft.text.TextAnalysis

/** The driver-checked query registry: one entry per implemented operator
  * (SURVEY.md §2 + training-data value-add), each with a DuckDB oracle in
  * [[Queries.oracle]].
  *
  * Cross-engine determinism rules used throughout (so the driver's
  * DuckDB-vs-Spark hash compare is exact, not approximate):
  *  - double SUMs go through exact integer cents:
  *    `sum(cast(round(x*100, 0) as bigint))` — per-row rounding is
  *    IEEE-deterministic, integer summation is associative, so Spark's
  *    distributed partial aggregation and DuckDB's sequential fold agree
  *    bit-for-bit at any scale/partitioning;
  *  - sampling/hashing is md5-based (never engine hash functions);
  *  - orderings that feed row_number/limit always have a unique total
  *    order (explicit id tie-break);
  *  - count-like outputs are cast to BIGINT on both sides;
  *  - cosine similarities are rounded to 6 decimals on both sides.
  */
object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Exact money arithmetic: dollars-double → integer cents. */
  private def cents(c: Column): Column = round(c * 100, 0).cast("long")

  // q_corpus_filter's keep-gate, shared with the end-to-end corpus
  // pipeline query: the Spark function and the DuckDB oracle SQL for the
  // filtered signal table (doc_id, lang_pred, tok_cnt, quality,
  // rep_ratio after all four gates).
  private def corpusFilterFn: (SparkSession, String) => DataFrame =
    
      // The composite training-data KEEP filter — the end-to-end shape a
      // pretraining pipeline actually runs: language gate + length gate +
      // quality gate + repetition gate in ONE pass. All map-side signals
      // (langId/tokenCount/quality) ride the scan; only the 3-gram
      // repetition ratio needs its explode+agg shuffle, then one
      // co-partitioned join back on doc_id. Thresholds filter on the
      // ROUNDED signal columns the per-signal oracles already hash-match,
      // so both engines compare identical doubles — the keep-set cannot
      // flip on FP representation.
      (s, dir) => {
        val d = t(s, dir, "documents")
        // Remove shuffles outright and stop the optimizer duplicating
        // expensive expressions: all four gates
        // in ONE scan stage. Language/length/quality come from the
        // fused signals struct; the repetition gate uses the SCALAR
        // run-length fold (repetitionRatioScalar — pinned row-equal to
        // the aggregate path by ScalarTwinPropSpec), computed over the
        // cheap gates' survivors only via the when() inside the struct.
        // The struct is built behind an explode(array(...)) GENERATE
        // BARRIER: predicate pushdown substitutes a projected alias's
        // full expression tree into the pushed filter (a plan
        // audit showed signals inlined 4× per scanned row and the
        // repetition fold running on EVERY row — HOF expressions are
        // CodegenFallback, so no whole-stage CSE rescues the copies),
        // but a filter on a generator's output cannot move below the
        // Generate, so the struct evaluates exactly once per row. The
        // previous shape additionally paid the survivors' full 3-gram
        // explode SHUFFLE, a survivor checkpoint, and a join-back; this
        // never leaves the scan at any corpus size. Measured at sf0.1:
        // 3.49 → ~0.9 s, plan: 3 stages → 1, 0 Exchange.
        val gated = ColumnUtil.bindOnce(TextAnalysis.signals(col("text")), sg =>
          struct(
            sg.getField("lang_pred").as("lang_pred"),
            sg.getField("tok_cnt").as("tok_cnt"),
            sg.getField("quality").as("quality"),
            when(sg.getField("lang_pred") === "en" &&
                sg.getField("tok_cnt") >= 30 && sg.getField("quality") >= 0.3,
              TextAnalysis.repetitionRatioScalar(col("text")))
              .as("rep_ratio")))
        d.select(col("doc_id"), ColumnUtil.explodeOnce(gated).as("s"))
          .select(col("doc_id"),
            col("s.lang_pred").as("lang_pred"),
            col("s.tok_cnt").as("tok_cnt"), col("s.quality").as("quality"),
            col("s.rep_ratio").as("rep_ratio"))
          .where(col("lang_pred") === "en" && col("tok_cnt") >= 30
            && col("quality") >= 0.3 && col("rep_ratio") <= 0.2)
      }

  /** Shared DuckDB lang-ID fragments over the `text` column — q_lang_id,
    * [[corpusKeepSql]] and the crawl-ingest composition all splice these
    * (ONE definition, so the tie-break and threshold semantics can never
    * drift between oracles): per-lang stopword hit scores, the winner
    * expression, and the winner→label CASE arms.
    */
  private[graft] def langIdLangs: Seq[String] =
    TextAnalysis.stopwords.keys.toSeq.sorted
  private[graft] def langHitsSql(l: String): String = {
    val words = TextAnalysis.stopwords(l).map(w => s"'$w'").mkString(", ")
    s"len(list_filter(list_filter(string_split(lower(text), ' '), x -> len(x) > 0), t -> list_contains([$words], t)))"
  }
  private[graft] def langScoresSql: String =
    langIdLangs.map(l => s"${langHitsSql(l)} AS s_$l").mkString(", ")
  private[graft] def langBestSql: String =
    "greatest(" + langIdLangs.map(l => s"s_$l").mkString(", ") + ")"
  private[graft] def langCasesSql: String =
    langIdLangs.map(l => s"WHEN best > 0 AND s_$l = best THEN '$l'").mkString(" ")

  /** DuckDB expression replaying [[TextAnalysis.qualityScore]] over the
    * `text` column — the shared fragment [[corpusKeepSql]] and the
    * budget-selection oracle both embed, so the two can never drift.
    */
  private[graft] def qualityExprSql: String = {
    val toks = "list_filter(string_split(text, ' '), x -> len(x) > 0)"
    val lowToks = "list_filter(string_split(lower(text), ' '), x -> len(x) > 0)"
    val allWords = TextAnalysis.stopwords.values.flatten.toSeq.distinct
      .map(w => s"'$w'").mkString(", ")
    s"""round(
              least(len($toks)::DOUBLE / 100.0, 1.0) * 0.4
              + least((len(list_filter($lowToks, t -> list_contains([$allWords], t)))::DOUBLE
                       / greatest(len($toks), 1)::DOUBLE) * 5.0, 1.0) * 0.4
              + (1.0 - least((len(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))::DOUBLE
                       / greatest(len(text), 1)::DOUBLE) * 5.0, 1.0)) * 0.2, 6)"""
  }

  private[graft] def corpusKeepSql: String = {
        // composed from the q_lang_id / q_quality / q_repetition oracle
        // fragments (same generated stopword lists, same arithmetic)
        val (scores, best, cases) = (langScoresSql, langBestSql, langCasesSql)
        val toks = "list_filter(string_split(text, ' '), x -> len(x) > 0)"
        s"""WITH sc AS (SELECT doc_id, $scores FROM documents),
          b AS (SELECT doc_id, s_de, s_en, s_es, s_fr, $best AS best FROM sc),
          lang AS (SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred FROM b),
          ql AS (SELECT doc_id,
            len($toks)::BIGINT AS tok_cnt,
            $qualityExprSql AS quality
            FROM documents),
          w AS (SELECT doc_id, $toks AS tk FROM documents),
          gr AS (SELECT doc_id, unnest(list_transform(range(greatest(len(tk)-2, 1)),
            i -> array_to_string(list_slice(tk, i+1, i+3), ' '))) AS g FROM w),
          cg AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM gr GROUP BY 1, 2),
          rep AS (SELECT doc_id, round(max(c)::DOUBLE / sum(c)::DOUBLE, 6) AS rep_ratio
            FROM cg GROUP BY 1)
          SELECT lang.doc_id, lang_pred, tok_cnt, quality, rep_ratio
          FROM lang JOIN ql ON lang.doc_id = ql.doc_id
          JOIN rep ON lang.doc_id = rep.doc_id
          WHERE lang_pred = 'en' AND tok_cnt >= 30
            AND quality >= 0.3 AND rep_ratio <= 0.2"""
  }

  /** [[corpusKeepSql]] WITHOUT the final keep filter: the per-doc signal
    * table (doc_id, lang_pred, tok_cnt, quality, rep_ratio) over ALL
    * documents — the base the curation-funnel audit grades each gate
    * against. Kept as a literal prefix of the keep SQL so the two can
    * never drift.
    */
  private[graft] def corpusSignalsSql: String = {
    val keep = corpusKeepSql
    val cut = keep.lastIndexOf("WHERE lang_pred")
    keep.substring(0, cut).trim.stripSuffix("\n")
  }


  /** DuckDB select-list for MinHash signatures over a shingle-hash column
    * `x` — same affine permutation constants as [[Dedup.minhashSignatures]].
    */
  private[graft] def minhashSigSql(numPerms: Int): String =
    (0 until numPerms).map { i =>
      s"min((x * ${Dedup.minhashA(i)} + ${Dedup.minhashB(i)}) % ${Dedup.MinhashP})::BIGINT AS sig$i"
    }.mkString(", ")

  /** The FULL q_minhash_sig oracle — shared verbatim by the aggregate
    * row and q_minhash_scalar, so the scalar Column is certified against
    * the exact same replay the DataFrame path is.
    */
  private def minhashSigOracleSql(numPerms: Int): String =
    s"""WITH w AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS tk
          FROM documents),
        sh AS (
          SELECT doc_id, unnest(list_transform(range(greatest(len(tk)-2, 1)),
            i -> array_to_string(list_slice(tk, i+1, i+3), ' '))) AS sh
          FROM w),
        hx AS (
          SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT % ${Dedup.MinhashP} AS x
          FROM sh)
        SELECT doc_id, ${minhashSigSql(numPerms)}
        FROM hx GROUP BY 1"""

  /** q_monster's 3-stage keep-ratio pipeline over `li` and `part`; Bench
    * runs the same body over 10x-amplified lineitem.
    */
  private[graft] def monster(li: DataFrame, part: DataFrame): DataFrame = {
    val s1 = li.where(substring(md5((col("l_orderkey") * 8 + col("l_linenumber"))
        .cast("string")), 1, 1).isin("0", "1"))
      .groupBy("l_partkey")
      .agg(sum(col("l_quantity").cast("long")).as("qty"),
        sum(cents(col("l_extendedprice"))).as("rev_cents"))
    val s2 = s1.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(sum(col("rev_cents")).as("revenue_cents"),
        count(lit(1)).as("nparts"))
    s2.orderBy(col("revenue_cents").desc, col("p_brand")).limit(10)
  }

  // ---------------------------------------------------------------- specs

  final case class Q(fn: (SparkSession, String) => DataFrame, sql: Option[String])

  val registry: Map[String, Q] = Map(

    // ---- §2.4 aggregations -------------------------------------------

    "q_agg_sum" -> Q(
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
          sum(cents(col("l_discount"))).as("sum_disc_cents"),
          count(lit(1)).as("cnt")),
      Some("""SELECT l_returnflag, l_linestatus,
        sum(l_quantity::BIGINT)::BIGINT AS sum_qty,
        sum((round(l_extendedprice*100, 0))::BIGINT)::BIGINT AS sum_price_cents,
        sum((round(l_discount*100, 0))::BIGINT)::BIGINT AS sum_disc_cents,
        count(*)::BIGINT AS cnt
        FROM lineitem GROUP BY 1, 2""")),

    "q_value_agg" -> Q(
      (s, dir) => t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          Aggregates.forDescriptor("LongValueSum", round(col("o_totalprice") * 100, 0)).as("dsum"),
          Aggregates.forDescriptor("LongValueMax", col("o_custkey")).as("lmax"),
          Aggregates.forDescriptor("LongValueMin", col("o_custkey")).as("lmin"),
          Aggregates.forDescriptor("StringValueMax", col("o_orderstatus")).as("smax"),
          Aggregates.forDescriptor("UniqValueCount", col("o_custkey")).as("uniq")),
      Some("""SELECT o_orderpriority,
        sum((round(o_totalprice*100, 0))::BIGINT)::BIGINT AS dsum,
        max(o_custkey)::BIGINT AS lmax,
        min(o_custkey)::BIGINT AS lmin,
        max(o_orderstatus) AS smax,
        count(DISTINCT o_custkey)::BIGINT AS uniq
        FROM orders GROUP BY 1""")),

    "q_value_histogram" -> Q(
      (s, dir) => Aggregates.valueHistogram(t(s, dir, "events"), "event_type", "user_id")
        .withColumn("mean_cnt", round(col("mean_cnt"), 6))
        .withColumn("stddev_cnt", round(col("stddev_cnt"), 6)),
      Some("""SELECT event_type,
        count(*)::BIGINT AS uniq_cnt,
        min(vcnt)::BIGINT AS min_cnt,
        median(vcnt)::DOUBLE AS median_cnt,
        max(vcnt)::BIGINT AS max_cnt,
        round(avg(vcnt), 6) AS mean_cnt,
        round(coalesce(stddev_pop(vcnt), 0), 6) AS stddev_cnt
        FROM (SELECT event_type, user_id, count(*)::BIGINT AS vcnt
              FROM events GROUP BY 1, 2)
        GROUP BY 1""")),

    "q_aggregate_text" -> Q(
      // the reference's ValueAggregatorJob line protocol end-to-end:
      // mapper emits "type:id\tvalue" lines, generic fold per (type,id)
      (s, dir) => {
        val ev = t(s, dir, "events")
        val lines = ev.select(concat(lit("LongValueSum:"), col("event_type"),
            lit("\t"), lit(1)).as("line"))
          .unionAll(ev.select(concat(lit("UniqValueCount:users"),
            lit("\t"), col("user_id")).as("line")))
        Aggregates.aggregateTextLines(lines, col("line"))
      },
      Some("""WITH lines AS (
          SELECT 'LongValueSum:' || event_type || chr(9) || '1' AS line FROM events
          UNION ALL
          SELECT 'UniqValueCount:users' || chr(9) || user_id::VARCHAR FROM events),
        parsed AS (
          SELECT split_part(split_part(line, chr(9), 1), ':', 1) AS atype,
                 split_part(split_part(line, chr(9), 1), ':', 2) AS id,
                 split_part(line, chr(9), 2) AS value
          FROM lines)
        SELECT atype, id,
          CASE WHEN atype IN ('LongValueSum', 'DoubleValueSum') THEN sum(value::DOUBLE)
               WHEN atype = 'LongValueMax' THEN max(value::DOUBLE)
               WHEN atype = 'LongValueMin' THEN min(value::DOUBLE)
               WHEN atype = 'UniqValueCount' THEN count(DISTINCT value)::DOUBLE
          END AS agg
        FROM parsed GROUP BY 1, 2""")),

    "q_fixed_width" -> Q(
      // TeraInputFormat-style fixed-offset record parse
      // (10-char key prefix + tail value over a rendered record)
      (s, dir) => t(s, dir, "documents")
        .select(concat(col("lang"), lit("|"), lpad(col("n_chars"), 8, "0"),
          lit("|"), col("source")).as("rec"))
        .select(substring(col("rec"), 1, 10).as("key10"),
          substring(col("rec"), 11, 1000).as("rest"))
        .groupBy("key10").agg(count(lit(1)).as("cnt"), max(col("rest")).as("max_rest")),
      Some("""WITH r AS (
          SELECT lang || '|' || lpad(n_chars::VARCHAR, 8, '0') || '|' || source AS rec
          FROM documents)
        SELECT substr(rec, 1, 10) AS key10, count(*)::BIGINT AS cnt,
               max(substr(rec, 11, 1000)) AS max_rest
        FROM r GROUP BY 1""")),

    "q_wordcount" -> Q(
      (s, dir) => TextOps.wordCount(t(s, dir, "documents"), col("text")),
      Some("""SELECT token, count(*)::BIGINT AS cnt FROM (
        SELECT unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS token
        FROM documents) GROUP BY 1""")),

    "q_grep" -> Q(
      (s, dir) => TextOps.grep(t(s, dir, "documents"), col("text"), "\\bs[a-z]+"),
      Some("""SELECT m AS "match", count(*)::BIGINT AS cnt FROM (
        SELECT unnest(regexp_extract_all(text, '\bs[a-z]+')) AS m
        FROM documents) GROUP BY 1""")),

    // ---- §2.3 joins ---------------------------------------------------

    "q_join_inner" -> Q(
      (s, dir) => {
        val cust = t(s, dir, "customer")
          .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
        val ord = t(s, dir, "orders")
          .select(col("o_custkey").as("custkey"), col("o_orderkey").as("orderkey"))
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey").as("orderkey"),
            cents(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev_cents"))
        // Fact table on the stream side: joined left-to-right so Catalyst
        // builds from the dimension sides (post-join size estimates
        // otherwise inflate and it broadcasts the fact table).
        Joins.innerComposite("custkey",
          Joins.innerComposite("orderkey", li, ord), cust)
          .groupBy("c_mktsegment")
          .agg(sum(col("rev_cents")).as("revenue_cents"), count(lit(1)).as("cnt"))
      },
      Some("""SELECT c_mktsegment,
        sum((round(l_extendedprice*(1-l_discount)*100, 0))::BIGINT)::BIGINT AS revenue_cents,
        count(*)::BIGINT AS cnt
        FROM customer JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1""")),

    "q_tpch_q3" -> Q(
      // shipping-priority query shape (TPC-H Q3): date-windowed
      // fact-dim-dim join; both date predicates push into the scans
      (s, dir) => {
        val cust = t(s, dir, "customer")
          .where(col("c_mktsegment") === "BUILDING")
        val ord = t(s, dir, "orders")
          .where(col("o_orderdate") < lit("1996-01-01"))
        val li = t(s, dir, "lineitem")
          .where(col("l_shipdate") >= lit("1996-01-01"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"))
          .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("revenue_cents"))
          .orderBy(col("revenue_cents").desc, col("l_orderkey")).limit(10)
      },
      Some("""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS odate,
        sum((round(l_extendedprice*(1-l_discount)*100, 0))::BIGINT)::BIGINT AS revenue_cents
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1996-01-01'
          AND l_shipdate >= TIMESTAMP '1996-01-01'
        GROUP BY 1, 2
        ORDER BY revenue_cents DESC, l_orderkey LIMIT 10""")),

    "q_tpch_q5" -> Q(
      // local-supplier-volume shape (TPC-H Q5): 5-way star join,
      // dims broadcast, one agg shuffle
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val ord = t(s, dir, "orders")
        val cust = t(s, dir, "customer")
        val supp = t(s, dir, "supplier")
        val nat = t(s, dir, "nation")
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(supp, col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("revenue_cents"))
      },
      Some("""SELECT n_name,
        sum((round(l_extendedprice*(1-l_discount)*100, 0))::BIGINT)::BIGINT AS revenue_cents
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY 1""")),

    "q_tpch_q1" -> Q(
      // pricing-summary shape (TPC-H Q1): the canonical scan-side
      // partial-agg workload — one pass, 6 aggregates, 6-group output;
      // the date predicate pushes to the scan, the combiner (partial
      // hash agg) reduces 6M rows/partition to 6 before the one tiny
      // shuffle. Averages are carried as (sum, count) pairs in exact
      // cents — the division is display-side, not engine-side, so the
      // oracle compare stays FP-association-free.
      (s, dir) => t(s, dir, "lineitem")
        .where(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("sum_disc_cents"),
          sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * (lit(1) + col("l_tax")))).as("sum_charge_cents"),
          sum(cents(col("l_discount"))).as("sum_disc_pts"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
        sum(l_quantity::BIGINT)::BIGINT AS sum_qty,
        sum((round(l_extendedprice*100, 0))::BIGINT)::BIGINT AS sum_base_cents,
        sum((round(l_extendedprice*(1-l_discount)*100, 0))::BIGINT)::BIGINT AS sum_disc_cents,
        sum((round(l_extendedprice*(1-l_discount)*(1+l_tax)*100, 0))::BIGINT)::BIGINT AS sum_charge_cents,
        sum((round(l_discount*100, 0))::BIGINT)::BIGINT AS sum_disc_pts,
        count(*)::BIGINT AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    "q_tpch_q6" -> Q(
      // forecast-revenue-change shape (TPC-H Q6): pure scan-side
      // filter + agg — every predicate pushes to the parquet scan, zero
      // joins, the partial agg folds each partition to ONE row before a
      // single-row exchange. The 100 TB ideal: work ∝ bytes scanned.
      (s, dir) => t(s, dir, "lineitem")
        .where(col("l_shipdate") >= lit("1995-01-01") &&
          col("l_shipdate") < lit("1996-01-01") &&
          col("l_discount").between(0.03, 0.07) &&
          col("l_quantity") < 24)
        .agg(sum(cents(col("l_extendedprice") * col("l_discount")))
          .as("revenue_cents"), count(lit(1)).as("cnt")),
      Some("""SELECT
        sum((round(l_extendedprice*l_discount*100, 0))::BIGINT)::BIGINT AS revenue_cents,
        count(*)::BIGINT AS cnt
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1996-01-01'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24""")),

    "q_tpch_q10" -> Q(
      // returned-item-reporting shape (TPC-H Q10): quarter-windowed
      // order scan + R-flag fact filter (both push down), nation dim
      // broadcast, top-20 by lost revenue via TakeOrderedAndProject —
      // never a global sort.
      (s, dir) => {
        val li = t(s, dir, "lineitem").where(col("l_returnflag") === "R")
        val ord = t(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1995-07-01") &&
            col("o_orderdate") < lit("1995-10-01"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(t(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy("c_custkey", "c_name", "n_name")
          .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("revenue_cents"))
          .orderBy(col("revenue_cents").desc, col("c_custkey")).limit(20)
      },
      Some("""SELECT c_custkey, c_name, n_name,
        sum((round(l_extendedprice*(1-l_discount)*100, 0))::BIGINT)::BIGINT AS revenue_cents
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1995-07-01'
          AND o_orderdate < TIMESTAMP '1995-10-01'
        GROUP BY 1, 2, 3
        ORDER BY revenue_cents DESC, c_custkey LIMIT 20""")),

    "q_tpch_q18" -> Q(
      // large-volume-customer shape (TPC-H Q18): the HAVING-subquery
      // pattern — per-order quantity rollup gates the same fact's join.
      // The rollup's >150 survivors are a tiny fraction of orders, so
      // the dim joins see filtered input; quantity sums ride as longs
      // (whole-number doubles in the data, exact in both engines).
      (s, dir) => {
        val big = t(s, dir, "lineitem").groupBy("l_orderkey")
          .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
          .where(col("total_qty") > 150)
        big.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
            cents(col("o_totalprice")).as("total_cents"), col("total_qty"))
      },
      Some("""SELECT c_custkey, c_name, o_orderkey,
        strftime(o_orderdate, '%Y-%m-%d') AS odate,
        (round(o_totalprice*100, 0))::BIGINT AS total_cents, total_qty
        FROM (SELECT l_orderkey, sum(l_quantity::BIGINT)::BIGINT AS total_qty
              FROM lineitem GROUP BY 1 HAVING sum(l_quantity::BIGINT) > 150)
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey""")),

    "q_tpch_q4" -> Q(
      // order-priority-checking shape (TPC-H Q4): EXISTS subquery → LEFT
      // SEMI join (never a row-multiplying inner join + distinct), then a
      // tiny priority rollup. Our lineitem has no commit/receipt dates, so
      // the EXISTS predicate is returnflag='R' — the plan shape (pushed
      // quarter scan on orders, semi join against a filtered fact, 5-group
      // agg) is the thing under test.
      (s, dir) => {
        val ord = t(s, dir, "orders")
          .where(col("o_orderdate") >= lit("1995-07-01") &&
            col("o_orderdate") < lit("1995-10-01"))
        val late = t(s, dir, "lineitem").where(col("l_returnflag") === "R")
          .select("l_orderkey")
        ord.join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*)::BIGINT AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-07-01'
          AND o_orderdate < TIMESTAMP '1995-10-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY 1 ORDER BY 1""")),

    "q_tpch_q14" -> Q(
      // promotion-effect shape (TPC-H Q14): one-month fact scan joined to
      // the part dim, conditional aggregation. The percentage is carried
      // as EXACT numerator/denominator cents sums — the division is
      // display-side arithmetic, so the compare is FP-association-free
      // (the repo-wide cents discipline).
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .where(col("l_shipdate") >= lit("1995-09-01") &&
            col("l_shipdate") < lit("1995-10-01"))
        li.join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
          .agg(
            sum(when(col("p_type").startsWith("PROMO"),
              cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
              .otherwise(lit(0L))).as("promo_cents"),
            sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
              .as("total_cents"))
      },
      Some("""SELECT
        sum(CASE WHEN p_type LIKE 'PROMO%'
            THEN (round(l_extendedprice*(1-l_discount)*100, 0))::BIGINT
            ELSE 0 END)::BIGINT AS promo_cents,
        sum((round(l_extendedprice*(1-l_discount)*100, 0))::BIGINT)::BIGINT AS total_cents
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1995-09-01'
          AND l_shipdate < TIMESTAMP '1995-10-01'""")),

    "q_tpch_q7" -> Q(
      // volume-shipping shape (TPC-H Q7): the two-sided nation filter is
      // applied to BOTH broadcast dim copies BEFORE the fact joins (the
      // (n1,n2)∈{(a,b),(b,a)} disjunction prunes 23/25 of each dim, and
      // transitively the fact rows), then year rollup in exact cents.
      (s, dir) => {
        val (na, nb) = ("NATION_18", "NATION_19")
        val n1 = t(s, dir, "nation")
          .where(col("n_name").isin(na, nb))
          .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
        val n2 = t(s, dir, "nation")
          .where(col("n_name").isin(na, nb))
          .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
        t(s, dir, "lineitem")
          .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
          .where(col("supp_nation") =!= col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast("long").as("l_year"))
          .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("volume_cents"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          year(l_shipdate) AS l_year,
          sum((round(l_extendedprice*(1-l_discount)*100, 0))::BIGINT)::BIGINT AS volume_cents
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name IN ('NATION_18', 'NATION_19')
          AND n2.n_name IN ('NATION_18', 'NATION_19')
          AND n1.n_name <> n2.n_name
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    "q_tpch_q8" -> Q(
      // national-market-share shape (TPC-H Q8): region-scoped demand for
      // one part class, share of a target supplier nation by year. The
      // share rides as exact numerator/denominator cents (the q14
      // discipline); region+type filters prune through broadcast dims.
      (s, dir) => {
        val asia = t(s, dir, "nation")
          .join(broadcast(t(s, dir, "region").where(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey").as("c_nk"))
        val suppNat = t(s, dir, "nation")
          .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
        t(s, dir, "lineitem")
          .join(t(s, dir, "part").where(col("p_type") === "PROMO"),
            col("l_partkey") === col("p_partkey"))
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          .join(broadcast(asia), col("c_nationkey") === col("c_nk"))
          .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(suppNat), col("s_nationkey") === col("s_nk"))
          .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
          .agg(
            sum(when(col("supp_nation") === "NATION_2",
              cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
              .otherwise(lit(0L))).as("nation_cents"),
            sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
              .as("total_cents"))
          .orderBy("o_year")
      },
      Some("""SELECT year(o_orderdate) AS o_year,
          sum(CASE WHEN n2.n_name = 'NATION_2'
              THEN (round(l_extendedprice*(1-l_discount)*100, 0))::BIGINT
              ELSE 0 END)::BIGINT AS nation_cents,
          sum((round(l_extendedprice*(1-l_discount)*100, 0))::BIGINT)::BIGINT AS total_cents
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'ASIA' AND p_type = 'PROMO'
        GROUP BY 1 ORDER BY 1""")),

    "q_tpch_q13" -> Q(
      // customer-distribution shape (TPC-H Q13): LEFT join so zero-order
      // customers survive with count 0, then the distribution-of-counts
      // second aggregate — the canonical two-level rollup.
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc),
      Some("""SELECT c_count, count(*)::BIGINT AS custdist FROM (
          SELECT c_custkey, count(o_orderkey)::BIGINT AS c_count
          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          GROUP BY 1)
        GROUP BY 1 ORDER BY custdist DESC, c_count DESC""")),

    "q_tpch_q22" -> Q(
      // global-sales-opportunity shape (TPC-H Q22): above-average
      // positive balances in a nation set, customers with NO urgent
      // order (anti join — this testdata has no order-less customers,
      // so the anti leg keys on the urgent subset to stay non-vacuous).
      // The average threshold compares as EXACT integers —
      // cents(bal)·n > Σcents — so the boundary can never flip on FP
      // association (the cents discipline applied to a correlated-
      // scalar predicate).
      (s, dir) => {
        val nations = Seq(1, 2, 3, 4, 5).map(lit(_))
        val cust = t(s, dir, "customer")
          .where(col("c_nationkey").isin(nations: _*))
        val stats = cust.where(col("c_acctbal") > 0)
          .agg(sum(cents(col("c_acctbal"))).as("_sum_cents"),
            count(lit(1)).as("_n"))
        cust.crossJoin(broadcast(stats))
          .where(cents(col("c_acctbal")) * col("_n") > col("_sum_cents"))
          .join(t(s, dir, "orders")
            .where(col("o_orderpriority") === "1-URGENT")
            .select(col("o_custkey")),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_nationkey").cast("long").as("cntrycode"))
          .agg(count(lit(1)).as("numcust"),
            sum(cents(col("c_acctbal"))).as("totacctbal_cents"))
          .orderBy("cntrycode")
      },
      Some("""WITH cust AS (
          SELECT * FROM customer WHERE c_nationkey IN (1, 2, 3, 4, 5)),
        stats AS (
          SELECT sum((round(c_acctbal*100, 0))::BIGINT)::BIGINT AS sum_cents,
            count(*)::BIGINT AS n
          FROM cust WHERE c_acctbal > 0)
        SELECT c_nationkey::BIGINT AS cntrycode, count(*)::BIGINT AS numcust,
          sum((round(c_acctbal*100, 0))::BIGINT)::BIGINT AS totacctbal_cents
        FROM cust, stats
        WHERE (round(c_acctbal*100, 0))::BIGINT * n > sum_cents
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderpriority = '1-URGENT')
        GROUP BY 1 ORDER BY 1""")),

    "q_tpch_q9" -> Q(
      // product-type-profit shape (TPC-H Q9): profit per supplier nation
      // per year over one part family. This testdata has no partsupp, so
      // supply cost is the deterministic stand-in 50% of p_retailprice —
      // the plan shape is unchanged: the selective p_name LIKE filter
      // prunes through the broadcast part dim BEFORE the fact join, then
      // supplier→nation (broadcast) and orders supply the grouping keys.
      // Profit rides as two exact-cents sums (revenue minus cost),
      // differenced AFTER aggregation so each sum is FP-association-free.
      (s, dir) => {
        val nat = t(s, dir, "nation")
          .select(col("n_nationkey").as("s_nk"), col("n_name").as("nation"))
        t(s, dir, "lineitem")
          .join(broadcast(t(s, dir, "part")
            .where(col("p_name").like("%widget%"))
            .select("p_partkey", "p_retailprice")),
            col("l_partkey") === col("p_partkey"))
          .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(nat), col("s_nationkey") === col("s_nk"))
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
          .agg((sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            - sum(cents(col("p_retailprice") * lit(0.5) * col("l_quantity"))))
            .as("profit_cents"))
          .orderBy(col("nation"), col("o_year").desc)
      },
      Some("""SELECT n_name AS nation, year(o_orderdate) AS o_year,
          (sum((round(l_extendedprice*(1-l_discount)*100, 0))::BIGINT)
           - sum((round(p_retailprice*0.5*l_quantity*100, 0))::BIGINT))::BIGINT AS profit_cents
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%widget%'
        GROUP BY 1, 2 ORDER BY nation, o_year DESC""")),

    "q_tpch_q21" -> Q(
      // waiting-suppliers shape (TPC-H Q21): the canonical multi-semi/anti
      // composition — suppliers who were the ONLY late supplier of a
      // multi-supplier finalized order (reference users hand-rolled
      // exactly this as chained reduce-side joins). This testdata has no
      // receipt/commit dates, so "late" is shipped >85 days after the
      // order date. Both the semi (another supplier exists) and the anti
      // (no OTHER late supplier) are one equi-join on l_orderkey with the
      // suppkey inequality as residual condition — hash joins on the
      // order key, no cross product, fact shuffled once per leg on the
      // same key.
      (s, dir) => {
        val ordersF = t(s, dir, "orders")
          .where(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate")
        val li = t(s, dir, "lineitem")
        val late = li.join(ordersF, col("l_orderkey") === col("o_orderkey"))
          .where(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 85 DAYS"))
        val l1 = late.select("l_orderkey", "l_suppkey")
        val others = li.select(col("l_orderkey").as("o2_orderkey"),
          col("l_suppkey").as("o2_suppkey"))
        val lateOthers = late.select(col("l_orderkey").as("o3_orderkey"),
          col("l_suppkey").as("o3_suppkey"))
        l1.join(others,
            col("l_orderkey") === col("o2_orderkey") &&
              col("l_suppkey") =!= col("o2_suppkey"), "left_semi")
          .join(lateOthers,
            col("l_orderkey") === col("o3_orderkey") &&
              col("l_suppkey") =!= col("o3_suppkey"), "left_anti")
          .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
          .groupBy("s_name")
          .agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
          .limit(100)
      },
      Some("""SELECT s_name, count(*)::BIGINT AS numwait
        FROM lineitem l1
        JOIN orders ON l1.l_orderkey = o_orderkey
        JOIN supplier ON l1.l_suppkey = s_suppkey
        WHERE o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL 85 DAY
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > o3.o_orderdate + INTERVAL 85 DAY)
        GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100""")),

    "q_tpch_q2" -> Q(
      // minimum-cost-supplier shape (TPC-H Q2): for each qualifying part,
      // the region's suppliers achieving the MINIMUM supply cost — the
      // correlated-min-per-group join. This testdata has no partsupp, so
      // the part↔supplier relation is derived from lineitem: per
      // (part, supplier), cost = min observed unit price in exact centi
      // units. The per-part min is ONE extra aggregation on the already
      // part-keyed frame (no shuffle move), re-joined on (part, cost) —
      // never a correlated subquery per row; dims (part filter, region
      // suppliers) prune as broadcasts before the fact agg.
      (s, dir) => {
        val ps = t(s, dir, "lineitem")
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(min(cents(col("l_extendedprice") / col("l_quantity")))
            .as("cost_centi"))
        val euSupp = t(s, dir, "supplier")
          .join(broadcast(t(s, dir, "nation")
            .join(broadcast(t(s, dir, "region").where(col("r_name") === "EUROPE")),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey").as("s_nk"), col("n_name").as("nation"))),
            col("s_nationkey") === col("s_nk"))
          .select(col("s_suppkey"), col("s_name"),
            cents(col("s_acctbal")).as("s_acctbal_cents"), col("nation"))
        val eligible = ps
          .join(broadcast(t(s, dir, "part").where(col("p_size") === 5)
            .select("p_partkey")), col("l_partkey") === col("p_partkey"))
          .join(broadcast(euSupp), col("l_suppkey") === col("s_suppkey"))
        val minCost = eligible.groupBy(col("p_partkey").as("mc_partkey"))
          .agg(min(col("cost_centi")).as("min_cost_centi"))
        eligible.join(minCost,
            col("p_partkey") === col("mc_partkey") &&
              col("cost_centi") === col("min_cost_centi"))
          .select("s_acctbal_cents", "s_name", "nation", "p_partkey", "cost_centi")
          .orderBy(col("s_acctbal_cents").desc, col("nation"), col("s_name"),
            col("p_partkey"))
          .limit(100)
      },
      Some("""WITH ps AS (
          SELECT l_partkey, l_suppkey,
            min((round(l_extendedprice / l_quantity * 100, 0))::BIGINT) AS cost_centi
          FROM lineitem GROUP BY 1, 2),
        eu AS (
          SELECT s_suppkey, s_name,
            (round(s_acctbal*100, 0))::BIGINT AS s_acctbal_cents, n_name
          FROM supplier JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
        el AS (
          SELECT p_partkey, s_name, s_acctbal_cents, n_name, cost_centi
          FROM ps JOIN part ON l_partkey = p_partkey
          JOIN eu ON l_suppkey = s_suppkey
          WHERE p_size = 5)
        SELECT s_acctbal_cents, s_name, n_name AS nation, p_partkey, cost_centi
        FROM el
        WHERE cost_centi = (SELECT min(cost_centi) FROM el e2
                            WHERE e2.p_partkey = el.p_partkey)
        ORDER BY s_acctbal_cents DESC, nation, s_name, p_partkey LIMIT 100""")),

    "q_tpch_q11" -> Q(
      // important-stock shape (TPC-H Q11): per-part value held by one
      // supplier group (canonically a nation; here region ASIA — the
      // sf0.001 testdata has 10 suppliers total, so a single nation can
      // be empty), kept where value exceeds a FRACTION of the grand
      // total. No partsupp → value = Σ extendedprice cents from
      // lineitem. The global threshold rides as a 1-row broadcast and the
      // comparison is exact integers (value·1000 > total), so the
      // boundary can never flip on FP association — the q22 discipline
      // applied to a global (not per-group) correlated scalar.
      (s, dir) => {
        val asiaSupp = t(s, dir, "supplier")
          .join(broadcast(t(s, dir, "nation")
            .join(broadcast(t(s, dir, "region").where(col("r_name") === "ASIA")),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey").as("s_nk"))),
            col("s_nationkey") === col("s_nk"))
          .select("s_suppkey")
        val value = t(s, dir, "lineitem")
          .join(broadcast(asiaSupp), col("l_suppkey") === col("s_suppkey"))
          .groupBy("l_partkey")
          .agg(sum(cents(col("l_extendedprice"))).as("value_cents"))
        val total = value.agg(sum(col("value_cents")).as("_total_cents"))
        value.crossJoin(broadcast(total))
          .where(col("value_cents") * 1000 > col("_total_cents"))
          .select("l_partkey", "value_cents")
          .orderBy(col("value_cents").desc, col("l_partkey"))
      },
      Some("""WITH v AS (
          SELECT l_partkey,
            sum((round(l_extendedprice*100, 0))::BIGINT)::BIGINT AS value_cents
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'ASIA'
          GROUP BY 1)
        SELECT l_partkey, value_cents FROM v
        WHERE value_cents * 1000 > (SELECT sum(value_cents) FROM v)
        ORDER BY value_cents DESC, l_partkey""")),

    "q_tpch_q15" -> Q(
      // top-supplier shape (TPC-H Q15): quarterly revenue per supplier,
      // suppliers tied for the MAXIMUM. The max is a 1-row broadcast over
      // the already-aggregated (100-row) frame — the canonical view +
      // correlated max rewritten as agg → broadcast scalar → filter, in
      // exact cents so the tie comparison is integral.
      (s, dir) => {
        val rev = t(s, dir, "lineitem")
          .where(col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1996-04-01"))
          .groupBy(col("l_suppkey"))
          .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("total_revenue_cents"))
        val mx = rev.agg(max(col("total_revenue_cents")).as("_max_cents"))
        rev.crossJoin(broadcast(mx))
          .where(col("total_revenue_cents") === col("_max_cents"))
          .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
          .select(col("s_suppkey"), col("s_name"), col("total_revenue_cents"))
          .orderBy("s_suppkey")
      },
      Some("""WITH rev AS (
          SELECT l_suppkey,
            sum((round(l_extendedprice*(1-l_discount)*100, 0))::BIGINT)::BIGINT
              AS total_revenue_cents
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY 1)
        SELECT s_suppkey, s_name, total_revenue_cents
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue_cents = (SELECT max(total_revenue_cents) FROM rev)
        ORDER BY s_suppkey""")),

    "q_tpch_q17" -> Q(
      // small-quantity-order-revenue shape (TPC-H Q17): revenue from
      // lineitems of one brand's parts whose quantity sits under 20% of
      // that part's average quantity. The per-part average is ONE
      // aggregation over the fact keyed the same way (no correlated
      // subquery per row), and the 0.2·avg comparison is cleared of
      // division: qty·5·n < Σqty in exact centi-quantity integers.
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val perPart = li.groupBy(col("l_partkey").as("pp_partkey"))
          .agg(sum(cents(col("l_quantity"))).as("_sum_qc"),
            count(lit(1)).as("_n"))
        li.join(broadcast(t(s, dir, "part")
            .where(col("p_brand") === "Brand#12").select("p_partkey")),
            col("l_partkey") === col("p_partkey"))
          .join(perPart, col("l_partkey") === col("pp_partkey"))
          .where(cents(col("l_quantity")) * 5 * col("_n") < col("_sum_qc"))
          .agg(sum(cents(col("l_extendedprice"))).as("revenue_cents"),
            count(lit(1)).as("cnt"))
      },
      Some("""WITH pp AS (
          SELECT l_partkey AS pp_partkey,
            sum((round(l_quantity*100, 0))::BIGINT)::BIGINT AS sum_qc,
            count(*)::BIGINT AS n
          FROM lineitem GROUP BY 1)
        SELECT sum((round(l_extendedprice*100, 0))::BIGINT)::BIGINT AS revenue_cents,
          count(*)::BIGINT AS cnt
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN pp ON l_partkey = pp_partkey
        WHERE p_brand = 'Brand#12'
          AND (round(l_quantity*100, 0))::BIGINT * 5 * n < sum_qc""")),

    "q_tpch_q12" -> Q(
      // shipping-mode-priority shape (TPC-H Q12): one fact-fact join with
      // CASE-conditional counts grouped by a mode-like column. This
      // testdata has no l_shipmode/receiptdate, so the "mode" is the ship
      // latency bucket (days from order to ship: ≤30 FAST, ≤90 REGULAR,
      // else SLOW) — the derived grouping key rides the scan; the only
      // shuffle is the orderkey join plus one partial-agg exchange. The
      // priority split is two filtered COUNTs in the same pass (map-side
      // combine), never two scans.
      (s, dir) => {
        val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        t(s, dir, "lineitem")
          .where(col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1997-01-01"))
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .select(
            when(datediff(col("l_shipdate"), col("o_orderdate")) <= 30, "FAST")
              .when(datediff(col("l_shipdate"), col("o_orderdate")) <= 90, "REGULAR")
              .otherwise("SLOW").as("ship_bucket"),
            hi.as("_hi"))
          .groupBy("ship_bucket")
          .agg(count(when(col("_hi"), 1)).as("high_line_count"),
            count(when(!col("_hi"), 1)).as("low_line_count"))
          .orderBy("ship_bucket")
      },
      Some("""SELECT CASE
            WHEN date_diff('day', o_orderdate, l_shipdate) <= 30 THEN 'FAST'
            WHEN date_diff('day', o_orderdate, l_shipdate) <= 90 THEN 'REGULAR'
            ELSE 'SLOW' END AS ship_bucket,
          count(*) FILTER (o_orderpriority IN ('1-URGENT', '2-HIGH'))::BIGINT
            AS high_line_count,
          count(*) FILTER (o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))::BIGINT
            AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY 1 ORDER BY 1""")),

    "q_tpch_q16" -> Q(
      // parts/supplier-relationship shape (TPC-H Q16): how many distinct
      // suppliers can supply each qualifying part class, excluding
      // blacklisted suppliers — the NOT-IN + count(distinct) composition.
      // No partsupp → the part↔supplier relation is the DISTINCT
      // (l_partkey, l_suppkey) projection of lineitem (one shuffle,
      // reused as the fact); "complaint" suppliers are the deterministic
      // stand-in s_acctbal < 0, excluded by an anti join on the tiny
      // supplier dim BEFORE the part join — the blacklist never rides
      // into the distinct-count shuffle. count(distinct) over
      // (brand, type, size) is exact: Spark expands to a two-level agg,
      // both keyed on the group columns.
      (s, dir) => {
        val ps = t(s, dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
        val complaints = t(s, dir, "supplier").where(col("s_acctbal") < 0)
          .select(col("s_suppkey"))
        ps.join(broadcast(complaints), col("l_suppkey") === col("s_suppkey"),
            "left_anti")
          .join(broadcast(t(s, dir, "part")
            .where(col("p_brand") =!= "Brand#12" && col("p_type") =!= "PROMO" &&
              col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45))),
            col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand", "p_type", "p_size")
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
            col("p_size"))
      },
      Some("""WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        SELECT p_brand, p_type, p_size::INT AS p_size,
          count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
        FROM ps JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#12' AND p_type <> 'PROMO'
          AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY 1, 2, 3
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")),

    "q_tpch_q19" -> Q(
      // disjunctive-predicate-revenue shape (TPC-H Q19): revenue over an
      // OR of three (brand, size-range, quantity-range) conjuncts. Every
      // disjunct pins a brand, so the union of brands is hoisted into the
      // part dim scan explicitly (`isin` — pushed to the parquet reader;
      // Catalyst does not factor common members out of a disjunction
      // across join inputs on its own), the part side broadcasts, and the
      // full OR stays as the residual join condition — one fact scan, no
      // union-of-three-scans rewrite.
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val p = broadcast(t(s, dir, "part")
          .where(col("p_brand").isin("Brand#12", "Brand#23", "Brand#34"))
          .select("p_partkey", "p_brand", "p_size"))
        val cond =
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30))
        li.join(p, col("l_partkey") === col("p_partkey") && cond)
          .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .as("revenue_cents"), count(lit(1)).as("cnt"))
      },
      Some("""SELECT
          sum((round(l_extendedprice*(1-l_discount)*100, 0))::BIGINT)::BIGINT
            AS revenue_cents,
          count(*)::BIGINT AS cnt
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)""")),

    "q_tpch_q20" -> Q(
      // excess-stock-supplier shape (TPC-H Q20): suppliers in one nation
      // holding more of a part family than recent demand justifies — the
      // nested semi-join chain. No partsupp availqty → "available" is the
      // total quantity that (part, supplier) ever shipped and "demand" is
      // its 1995 slice, both from ONE grouped pass over the fact
      // (conditional sum, exact centi-quantity); qualifying means
      // available > 2 × demand-1995, i.e. the outside-1995 volume alone
      // exceeds the 1995 volume. The part-family gate (p_name LIKE) and
      // the nation gate prune as broadcasts, and the supplier output is a
      // semi join — each supplier once, no matter how many parts qualify.
      (s, dir) => {
        val qtyC = cents(col("l_quantity"))
        val in95 = year(col("l_shipdate")) === 1995
        val perPS = t(s, dir, "lineitem")
          .join(broadcast(t(s, dir, "part")
            .where(col("p_name").like("%widget%")).select("p_partkey")),
            col("l_partkey") === col("p_partkey"))
          .groupBy("l_partkey", "l_suppkey")
          .agg(sum(qtyC).as("avail_qc"),
            sum(when(in95, qtyC).otherwise(0L)).as("demand95_qc"))
          .where(col("avail_qc") > lit(2) * col("demand95_qc"))
          .select(col("l_suppkey"))
        t(s, dir, "supplier")
          .join(broadcast(t(s, dir, "nation").where(col("n_name") === "NATION_3")
            .select(col("n_nationkey").as("s_nk"))),
            col("s_nationkey") === col("s_nk"))
          .join(perPS, col("s_suppkey") === col("l_suppkey"), "left_semi")
          .select("s_suppkey", "s_name")
          .orderBy("s_suppkey")
      },
      Some("""WITH ps AS (
          SELECT l_partkey, l_suppkey,
            sum((round(l_quantity*100, 0))::BIGINT)::BIGINT AS avail_qc,
            sum(CASE WHEN year(l_shipdate) = 1995
                THEN (round(l_quantity*100, 0))::BIGINT ELSE 0 END)::BIGINT
              AS demand95_qc
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_name LIKE '%widget%'
          GROUP BY 1, 2)
        SELECT s_suppkey, s_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_3'
          AND EXISTS (SELECT 1 FROM ps
                      WHERE l_suppkey = s_suppkey AND avail_qc > 2 * demand95_qc)
        ORDER BY s_suppkey""")),

    "q_join_broadcast" -> Q(
      (s, dir) => t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("cnt"), sum(cents(col("c_acctbal"))).as("acctbal_cents")),
      Some("""SELECT r_name, count(*)::BIGINT AS cnt,
        sum((round(c_acctbal*100, 0))::BIGINT)::BIGINT AS acctbal_cents
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1""")),

    "q_join_outer" -> Q(
      (s, dir) => {
        val c = t(s, dir, "customer").groupBy(col("c_nationkey").as("nationkey"))
          .agg(count(lit(1)).as("ccnt"))
        val sp = t(s, dir, "supplier").groupBy(col("s_nationkey").as("nationkey"))
          .agg(count(lit(1)).as("scnt"))
        Joins.outerComposite("nationkey", c, sp)
          .select(col("nationkey"),
            coalesce(col("ccnt"), lit(0L)).as("ccnt"),
            coalesce(col("scnt"), lit(0L)).as("scnt"))
      },
      Some("""SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
        coalesce(ccnt, 0)::BIGINT AS ccnt, coalesce(scnt, 0)::BIGINT AS scnt
        FROM (SELECT c_nationkey AS nationkey, count(*)::BIGINT AS ccnt
              FROM customer GROUP BY 1) c
        FULL OUTER JOIN
             (SELECT s_nationkey AS nationkey, count(*)::BIGINT AS scnt
              FROM supplier GROUP BY 1) s
        USING (nationkey)""")),

    "q_join_override" -> Q(
      (s, dir) => {
        val c = t(s, dir, "customer")
          .select(col("c_nationkey").cast("int").as("key"), col("c_name").as("name"))
        val sp = t(s, dir, "supplier")
          .select(col("s_nationkey").cast("int").as("key"), col("s_name").as("name"))
        Joins.overrideJoin("key", c, sp)
      },
      Some("""WITH tagged AS (
          SELECT c_nationkey AS key, c_name AS name, 0 AS prio FROM customer
          UNION ALL
          SELECT s_nationkey AS key, s_name AS name, 1 AS prio FROM supplier),
        m AS (SELECT key, max(prio) AS mp FROM tagged GROUP BY 1)
        SELECT t.key, t.name FROM tagged t JOIN m ON t.key = m.key AND t.prio = m.mp""")),

    "q_join_semi" -> Q(
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name"),
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""")),

    "q_join_anti" -> Q(
      // customers with no very-high-value (>450k) order — filtered anti-join (the
      // unfiltered variant is vacuously empty on this data: every
      // customer has orders)
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders").where(col("o_totalprice") > 450000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name"),
      Some("""SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_totalprice > 450000)""")),

    // ---- §2.5 sorts / partitioning -----------------------------------

    "q_sort_total" -> Q(
      // global rank via range-partition + per-partition offsets
      // (distributed), NOT row_number over an unpartitioned window (single
      // task). It sorts on the DATE and formats `ship` after ranking: over
      // Spark's DATE range (0001-01-01 to 9999-12-31) 'yyyy-MM-dd' is
      // zero-padded and fixed-width, so date order is string order, and
      // nulls sort first in both. A date's sort prefix decides almost every
      // comparison; the string's 8-byte prefix 'yyyy-MM-' ties for a whole
      // month. (l_orderkey, l_linenumber) keeps the key unique.
      (s, dir) => graft.ops.GlobalRank.withGlobalRank(
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            to_date(col("l_shipdate")).as("ship")),
        Seq(col("ship"), col("l_orderkey"), col("l_linenumber")))
        .withColumn("ship", date_format(col("ship"), "yyyy-MM-dd")),
      Some("""SELECT l_orderkey, l_linenumber, strftime(l_shipdate, '%Y-%m-%d') AS ship,
        (row_number() OVER (ORDER BY strftime(l_shipdate, '%Y-%m-%d'), l_orderkey, l_linenumber))::BIGINT AS rank
        FROM lineitem""")),

    "q_secondary_sort" -> Q(
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(
              date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship"),
              col("l_linenumber").as("ln")))),
            x => x.getField("ln").cast("string")),
          ",").as("linenums")),
      Some("""SELECT l_orderkey,
        string_agg(l_linenumber::VARCHAR, ',' ORDER BY strftime(l_shipdate, '%Y-%m-%d'), l_linenumber) AS linenums
        FROM lineitem GROUP BY 1""")),

    "q_secondary_fold" -> Q(
      // same semantics as q_secondary_sort but through the STREAMING
      // group fold (mapPartitions over cluster-sorted layout) — the
      // Reducer.reduce migration surface under the oracle gate
      (s, dir) => {
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types._
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship"))
        graft.ops.SecondarySort.foldGroupsSorted[List[Int]](
          li, Seq(col("l_orderkey")),
          Seq(col("ship").asc, col("l_linenumber").asc))(
          _ => Nil)(
          (acc, r) => r.getAs[Int]("l_linenumber") :: acc)(
          (first, acc) => Row(first.getAs[Long]("l_orderkey"),
            acc.reverse.mkString(",")),
          StructType(Seq(StructField("l_orderkey", LongType),
            StructField("linenums", StringType))))
      },
      Some("""SELECT l_orderkey,
        string_agg(l_linenumber::VARCHAR, ',' ORDER BY strftime(l_shipdate, '%Y-%m-%d'), l_linenumber) AS linenums
        FROM lineitem GROUP BY 1""")),

    "q_keyfield_sort" -> Q(
      (s, dir) => {
        val lines = t(s, dir, "documents")
          .select(concat_ws("\t", col("doc_id"), col("lang"), col("n_chars")).as("line"))
        val sortCols = KeyFieldSpec.sortColumns(col("line"), "-k3,3nr -k1,1n")
        graft.ops.GlobalRank.withGlobalRank(lines, sortCols)
          .select(get(split(col("line"), "\t"), lit(0)).cast("long").as("doc_id"),
            col("rank"))
      },
      Some("""SELECT doc_id,
        (row_number() OVER (ORDER BY n_chars DESC, doc_id))::BIGINT AS rank
        FROM documents""")),

    "q_logalyzer" -> Q(
      // Logalyzer shape (§2.2): archive of log lines → grep -> per-column
      // numeric sort (-sort col3 desc) with distributed global rank
      (s, dir) => {
        val lines = t(s, dir, "events")
          .select(concat_ws("\t", col("event_id"), col("event_type"),
            col("value")).as("line"))
          .where(col("line").rlike("\terror\t"))
        val sortCols = KeyFieldSpec.sortColumns(col("line"), "-k3,3nr -k1,1n")
        graft.ops.GlobalRank.withGlobalRank(lines, sortCols)
          .select(get(split(col("line"), "\t"), lit(0)).cast("long").as("event_id"),
            col("rank"))
      },
      Some("""SELECT event_id,
        (row_number() OVER (ORDER BY value DESC, event_id))::BIGINT AS rank
        FROM events WHERE event_type = 'error'""")),

    "q_topk" -> Q(
      (s, dir) => t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""")),

    // ---- §2.2 projections / filters / field selection ----------------

    "q_field_selection" -> Q(
      (s, dir) => {
        val lines = t(s, dir, "customer")
          .select(concat_ws("\t", col("c_custkey"), col("c_nationkey"),
            col("c_mktsegment"), col("c_name")).as("line"))
        val (k, v) = FieldSelection.keyValue(col("line"), "0:2,3,1-")
        lines.select(k.as("key"), v.as("value"))
      },
      Some("""SELECT c_custkey::VARCHAR AS key,
        c_mktsegment || chr(9) || c_name || chr(9) || c_nationkey::VARCHAR
          || chr(9) || c_mktsegment || chr(9) || c_name AS value
        FROM customer""")),

    "q_sample_md5" -> Q(
      (s, dir) => t(s, dir, "lineitem")
        .where(Sampling.md5Filter(col("l_orderkey"), 16))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity").cast("long")).as("sum_qty")),
      Some("""SELECT l_returnflag, count(*)::BIGINT AS cnt,
        sum(l_quantity::BIGINT)::BIGINT AS sum_qty
        FROM lineitem
        WHERE ('0x' || substr(md5(l_orderkey::VARCHAR), 1, 8))::BIGINT % 16 = 0
        GROUP BY 1""")),

    "q_regex_filter" -> Q(
      (s, dir) => t(s, dir, "events")
        .where(Sampling.regexFilter(col("event_type"), "^(click|view)$"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sum(cents(col("value"))).as("value_cents")),
      Some("""SELECT event_type, count(*)::BIGINT AS cnt,
        sum((round(value*100, 0))::BIGINT)::BIGINT AS value_cents
        FROM events WHERE regexp_matches(event_type, '^(click|view)$')
        GROUP BY 1""")),

    // ---- §2.6 set operations -----------------------------------------

    "q_distinct" -> Q(
      (s, dir) => t(s, dir, "lineitem").select("l_returnflag", "l_linestatus").distinct(),
      Some("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem")),

    "q_intersect" -> Q(
      (s, dir) => t(s, dir, "customer").select(col("c_custkey").as("custkey"))
        .intersect(t(s, dir, "orders").select(col("o_custkey").as("custkey"))),
      Some("""SELECT c_custkey AS custkey FROM customer
        INTERSECT SELECT o_custkey FROM orders""")),

    "q_except" -> Q(
      (s, dir) => t(s, dir, "customer").select(col("c_custkey").as("custkey"))
        .except(t(s, dir, "orders").select(col("o_custkey").as("custkey"))),
      Some("""SELECT c_custkey AS custkey FROM customer
        EXCEPT SELECT o_custkey FROM orders""")),

    "q_union" -> Q(
      (s, dir) => t(s, dir, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          lit("customer").as("src"))
        .unionByName(t(s, dir, "supplier")
          .select(col("s_suppkey").as("id"), col("s_name").as("name"),
            lit("supplier").as("src"))),
      Some("""SELECT c_custkey AS id, c_name AS name, 'customer' AS src FROM customer
        UNION ALL
        SELECT s_suppkey AS id, s_name AS name, 'supplier' AS src FROM supplier""")),

    "q_hetero_union" -> Q(
      // MultipleInputs: per-source normalization into one schema
      // (each source gets its own "mapper" projection, then union)
      (s, dir) => t(s, dir, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_acctbal").as("score"), lit("customer").as("kind"))
        .unionByName(t(s, dir, "supplier")
          .select(col("s_suppkey").as("id"), col("s_name").as("name"),
            col("s_acctbal").as("score"), lit("supplier").as("kind")))
        .unionByName(t(s, dir, "part")
          .select(col("p_partkey").as("id"), col("p_name").as("name"),
            col("p_retailprice").as("score"), lit("part").as("kind")))
        .groupBy("kind")
        .agg(count(lit(1)).as("cnt"), sum(cents(col("score"))).as("score_cents")),
      Some("""SELECT kind, count(*)::BIGINT AS cnt,
        sum((round(score*100, 0))::BIGINT)::BIGINT AS score_cents
        FROM (
          SELECT c_custkey AS id, c_acctbal AS score, 'customer' AS kind FROM customer
          UNION ALL
          SELECT s_suppkey, s_acctbal, 'supplier' FROM supplier
          UNION ALL
          SELECT p_partkey, p_retailprice, 'part' FROM part)
        GROUP BY 1""")),

    "q_topk_per_group" -> Q(
      // per-group top-k: partitioned window (scales — no global sort)
      (s, dir) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, dir, "orders")
          .withColumn("rk", row_number().over(w).cast("long"))
          .where(col("rk") <= 2)
          .select("o_orderpriority", "rk", "o_orderkey", "o_totalprice")
      },
      Some("""SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
          SELECT *, (row_number() OVER (PARTITION BY o_orderpriority
            ORDER BY o_totalprice DESC, o_orderkey))::BIGINT AS rk
          FROM orders) WHERE rk <= 2""")),

    "q_percentiles" -> Q(
      (s, dir) => t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.95)"), 6).as("p95"),
          count(lit(1)).as("cnt")),
      Some("""SELECT event_type,
        round(quantile_cont(value, 0.5), 6) AS p50,
        round(quantile_cont(value, 0.95), 6) AS p95,
        count(*)::BIGINT AS cnt
        FROM events GROUP BY 1""")),

    // ---- §2.7 pipelines (monsterQuery shape) -------------------------

    "q_monster" -> Q(
      (s, dir) => monster(t(s, dir, "lineitem"), t(s, dir, "part")),
      Some("""WITH s1 AS (
          SELECT l_partkey, sum(l_quantity::BIGINT)::BIGINT AS qty,
            sum((round(l_extendedprice*100, 0))::BIGINT)::BIGINT AS rev_cents
          FROM lineitem
          WHERE substr(md5((l_orderkey*8 + l_linenumber)::VARCHAR), 1, 1) IN ('0','1')
          GROUP BY 1),
        s2 AS (
          SELECT p_brand, sum(rev_cents)::BIGINT AS revenue_cents,
            count(*)::BIGINT AS nparts
          FROM s1 JOIN part ON l_partkey = p_partkey GROUP BY 1)
        SELECT p_brand, revenue_cents, nparts FROM s2
        ORDER BY revenue_cents DESC, p_brand LIMIT 10""")),

    // ---- dedup -------------------------------------------------------

    "q_dedup_exact" -> Q(
      (s, dir) => Dedup.exact(t(s, dir, "documents")),
      Some("""SELECT md5(text) AS text_hash, min(doc_id)::BIGINT AS doc_id,
        count(*)::BIGINT AS dup_cnt FROM documents GROUP BY 1""")),

    "q_fingerprint" -> Q(
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), Dedup.fingerprint(col("text")).as("fp")),
      Some("""SELECT doc_id,
        md5(array_to_string(list_sort(list_distinct(
          list_filter(string_split(lower(text), ' '), x -> len(x) > 0))), ' ')) AS fp
        FROM documents""")),

    "q_minhash_sig" -> Q(
      (s, dir) => Dedup.minhashSignatures(t(s, dir, "documents"), numPerms = 4),
      Some(minhashSigOracleSql(4))),

    // The SCALAR signature (Dedup.minhashSigArray / graft_minhash_sig)
    // against the SAME oracle as the aggregate row above: the dedup KEY
    // as a zero-shuffle scan-side Column for SQL consumers. The array
    // unpacks to sig0..sig3 so the replay is column-identical.
    "q_minhash_scalar" -> Q(
      (s, dir) => {
        val d = t(s, dir, "documents")
          .select(col("doc_id"),
            Dedup.minhashSigArray(col("text"), numPerms = 4).as("sig"))
        d.select(col("doc_id") +: (0 until 4).map(i =>
          element_at(col("sig"), i + 1).as(s"sig$i")): _*)
      },
      Some(minhashSigOracleSql(4))),

    // Scalar LSH band keys (Dedup.minhashBandKeys / graft_minhash_bands):
    // position = band, element = bucket key — posexplode recovers the
    // (band, bkey) rows lshBands emits, and the oracle rebuilds the
    // same md5(sig_a || '|' || sig_b) keys from the shared signature
    // replay. With this row green, a SQL consumer can run the whole
    // near-dup candidate pass: bands → GROUP BY bucket → pair join.
    "q_minhash_bands" -> Q(
      (s, dir) => {
        val bands = Dedup.minhashBandKeys(col("text"), numPerms = 4,
          rowsPerBand = 2)
        t(s, dir, "documents")
          .select(col("doc_id"), posexplode(bands).as(Seq("band", "bkey")))
          .select(col("doc_id"), col("band").cast("long").as("band"),
            col("bkey"))
          .orderBy("doc_id", "band")
      },
      Some(s"""WITH sig AS (${minhashSigOracleSql(4)})
        SELECT doc_id, band, md5(key) AS bkey FROM (
          SELECT doc_id, 0::BIGINT AS band,
            sig0 || '|' || sig1 AS key FROM sig
          UNION ALL
          SELECT doc_id, 1::BIGINT AS band,
            sig2 || '|' || sig3 AS key FROM sig)
        ORDER BY doc_id, band""")),

    "q_minhash_pairs" -> Q(
      (s, dir) => Dedup.minhashCandidates(t(s, dir, "documents"),
        numPerms = 8, rowsPerBand = 2, maxBucket = 1000000),
      Some {
        val bandSelects = (0 until 4).map { b =>
          val (i, j) = (2 * b, 2 * b + 1)
          val sel = s"SELECT doc_id, $b AS band, md5(sig$i::VARCHAR || '|' || sig$j::VARCHAR) AS bkey FROM sig"
          if (b == 0) sel else s"UNION ALL $sel"
        }.mkString(" ")
        s"""WITH w AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS tk
          FROM documents),
        sh AS (
          SELECT doc_id, unnest(list_transform(range(greatest(len(tk)-2, 1)),
            i -> array_to_string(list_slice(tk, i+1, i+3), ' '))) AS sh
          FROM w),
        hx AS (
          SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT % ${Dedup.MinhashP} AS x
          FROM sh),
        sig AS (SELECT doc_id, ${minhashSigSql(8)} FROM hx GROUP BY 1),
        bands AS ($bandSelects)
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
        WHERE a.doc_id < b.doc_id"""
      }),

    "q_simhash" -> Q(
      (s, dir) => Dedup.simhash16(t(s, dir, "documents")),
      Some {
        val sums = (0 until 16).map(j =>
          s"sum(CASE WHEN substr(h, ${j + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v$j")
          .mkString(", ")
        val bits = (0 until 16).map(j => s"CASE WHEN v$j > 0 THEN '1' ELSE '0' END")
          .mkString(" || ")
        s"""WITH tok AS (
          SELECT DISTINCT doc_id, t FROM (
            SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS t
            FROM documents)),
        h AS (SELECT doc_id, md5(t) AS h FROM tok),
        v AS (SELECT doc_id, $sums FROM h GROUP BY 1)
        SELECT doc_id, $bits AS simhash FROM v"""
      }),

    // ---- text analysis -----------------------------------------------

    "q_lang_id" -> Q(
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred")),
      Some(
        s"""WITH sc AS (SELECT doc_id, $langScoresSql FROM documents),
        b AS (SELECT doc_id, s_de, s_en, s_es, s_fr, $langBestSql AS best FROM sc)
        SELECT doc_id, CASE $langCasesSql ELSE 'und' END AS lang_pred FROM b""")),

    "q_quality" -> Q(
      (s, dir) => t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("tok_cnt"),
        TextAnalysis.subwordCount(col("text")).cast("long").as("subword_cnt"),
        round(TextAnalysis.punctRatio(col("text")), 6).as("punct_ratio"),
        TextAnalysis.qualityScore(col("text")).as("quality")),
      Some {
        val toks = "list_filter(string_split(text, ' '), x -> len(x) > 0)"
        val lowToks = "list_filter(string_split(lower(text), ' '), x -> len(x) > 0)"
        val allWords = TextAnalysis.stopwords.values.flatten.toSeq.distinct
          .map(w => s"'$w'").mkString(", ")
        s"""SELECT doc_id,
          len($toks)::BIGINT AS tok_cnt,
          len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\\s]'))::BIGINT AS subword_cnt,
          round(len(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))::DOUBLE
            / greatest(len(text), 1)::DOUBLE, 6) AS punct_ratio,
          round(
            least(len($toks)::DOUBLE / 100.0, 1.0) * 0.4
            + least((len(list_filter($lowToks, t -> list_contains([$allWords], t)))::DOUBLE
                     / greatest(len($toks), 1)::DOUBLE) * 5.0, 1.0) * 0.4
            + (1.0 - least((len(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))::DOUBLE
                     / greatest(len(text), 1)::DOUBLE) * 5.0, 1.0)) * 0.2, 6) AS quality
          FROM documents"""
      }),

    // The fused one-tokenization signals struct itself, driver-checked:
    // certifies the README claim that `signals` is arithmetic-identical
    // to langId/tokenCount/qualityScore (the per-signal oracle fragments
    // composed verbatim are its oracle).
    "q_signals" -> Q(
      (s, dir) => t(s, dir, "documents")
        // explodeOnce: 3 field extractions would otherwise inline 3
        // copies of the struct (see ColumnUtil.explodeOnce)
        .select(col("doc_id"),
          ColumnUtil.explodeOnce(TextAnalysis.signals(col("text"))).as("s"))
        .select(col("doc_id"), col("s.lang_pred").as("lang_pred"),
          col("s.tok_cnt").as("tok_cnt"), col("s.quality").as("quality")),
      Some {
        val langs = TextAnalysis.stopwords.keys.toSeq.sorted
        def hits(l: String) = {
          val words = TextAnalysis.stopwords(l).map(w => s"'$w'").mkString(", ")
          s"len(list_filter(list_filter(string_split(lower(text), ' '), x -> len(x) > 0), t -> list_contains([$words], t)))"
        }
        val scores = langs.map(l => s"${hits(l)} AS s_$l").mkString(", ")
        val best = "greatest(" + langs.map(l => s"s_$l").mkString(", ") + ")"
        val cases = langs.map(l => s"WHEN best > 0 AND s_$l = best THEN '$l'").mkString(" ")
        val toks = "list_filter(string_split(text, ' '), x -> len(x) > 0)"
        val lowToks = "list_filter(string_split(lower(text), ' '), x -> len(x) > 0)"
        val allWords = TextAnalysis.stopwords.values.flatten.toSeq.distinct
          .map(w => s"'$w'").mkString(", ")
        s"""WITH sc AS (SELECT doc_id, $scores FROM documents),
          b AS (SELECT doc_id, s_de, s_en, s_es, s_fr, $best AS best FROM sc),
          lang AS (SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred FROM b),
          ql AS (SELECT doc_id,
            len($toks)::BIGINT AS tok_cnt,
            round(
              least(len($toks)::DOUBLE / 100.0, 1.0) * 0.4
              + least((len(list_filter($lowToks, t -> list_contains([$allWords], t)))::DOUBLE
                       / greatest(len($toks), 1)::DOUBLE) * 5.0, 1.0) * 0.4
              + (1.0 - least((len(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))::DOUBLE
                       / greatest(len(text), 1)::DOUBLE) * 5.0, 1.0)) * 0.2, 6) AS quality
            FROM documents)
          SELECT doc_id, lang_pred, tok_cnt, quality
          FROM lang JOIN ql USING (doc_id)"""
      }),

    "q_corpus_filter" -> Q(corpusFilterFn, Some(corpusKeepSql)),

    "q_token_fingerprint" -> Q(
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("tok_cnt")),
      Some("""SELECT doc_id,
        md5(array_to_string(list_sort(list_distinct(
          list_filter(string_split(lower(text), ' '), x -> len(x) > 0))), ' ')) AS fp,
        len(list_filter(string_split(text, ' '), x -> len(x) > 0))::BIGINT AS tok_cnt
        FROM documents""")),

    "q_dedup_corpus" -> Q(
      (s, dir) => Dedup.dedupCorpus(t(s, dir, "documents")),
      Some {
        val bandSelects = (0 until 4).map { b =>
          val (i, j) = (2 * b, 2 * b + 1)
          val sel = s"SELECT doc_id, $b AS band, md5(sig$i::VARCHAR || '|' || sig$j::VARCHAR) AS bkey FROM sig"
          if (b == 0) sel else s"UNION ALL $sel"
        }.mkString(" ")
        s"""WITH RECURSIVE w AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS tk
          FROM documents),
        sh AS (
          SELECT doc_id, unnest(list_transform(range(greatest(len(tk)-2, 1)),
            i -> array_to_string(list_slice(tk, i+1, i+3), ' '))) AS sh
          FROM w),
        hx AS (
          SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT % ${Dedup.MinhashP} AS x
          FROM sh),
        sig AS (SELECT doc_id, ${minhashSigSql(8)} FROM hx GROUP BY 1),
        bands AS ($bandSelects),
        pairs AS (
          SELECT DISTINCT a.doc_id AS pa, b.doc_id AS pb
          FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
          WHERE a.doc_id < b.doc_id),
        edges AS (SELECT pa AS a, pb AS b FROM pairs
                  UNION ALL SELECT pb, pa FROM pairs),
        reach AS (
          SELECT DISTINCT a AS id, a AS r FROM edges
          UNION
          SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b),
        comp AS (SELECT id, min(r) AS label FROM reach GROUP BY 1)
        SELECT d.doc_id, coalesce(comp.id = comp.label, TRUE) AS keep
        FROM documents d LEFT JOIN comp ON d.doc_id = comp.id"""
      }),

    // Quality-aware canonical selection: same LSH clusters as
    // q_dedup_corpus, but each cluster's survivor is its HIGHEST-quality
    // member (tie → smaller id). The Spark side picks via a max_by hash
    // aggregate; the oracle takes the independent window-rank route, so
    // a tie-break or argmax bug cannot cancel out of both sides.
    "q_dedup_canonical" -> Q(
      (s, dir) => Dedup.dedupCorpusBest(t(s, dir, "documents"),
        TextAnalysis.qualityScore(col("text"))),
      Some {
        val bandSelects = (0 until 4).map { b =>
          val (i, j) = (2 * b, 2 * b + 1)
          val sel = s"SELECT doc_id, $b AS band, md5(sig$i::VARCHAR || '|' || sig$j::VARCHAR) AS bkey FROM sig"
          if (b == 0) sel else s"UNION ALL $sel"
        }.mkString(" ")
        val toks = "list_filter(string_split(text, ' '), x -> len(x) > 0)"
        val lowToks = "list_filter(string_split(lower(text), ' '), x -> len(x) > 0)"
        val allWords = TextAnalysis.stopwords.values.flatten.toSeq.distinct
          .map(w => s"'$w'").mkString(", ")
        s"""WITH RECURSIVE w AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS tk
          FROM documents),
        sh AS (
          SELECT doc_id, unnest(list_transform(range(greatest(len(tk)-2, 1)),
            i -> array_to_string(list_slice(tk, i+1, i+3), ' '))) AS sh
          FROM w),
        hx AS (
          SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT % ${Dedup.MinhashP} AS x
          FROM sh),
        sig AS (SELECT doc_id, ${minhashSigSql(8)} FROM hx GROUP BY 1),
        bands AS ($bandSelects),
        pairs AS (
          SELECT DISTINCT a.doc_id AS pa, b.doc_id AS pb
          FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
          WHERE a.doc_id < b.doc_id),
        edges AS (SELECT pa AS a, pb AS b FROM pairs
                  UNION ALL SELECT pb, pa FROM pairs),
        reach AS (
          SELECT DISTINCT a AS id, a AS r FROM edges
          UNION
          SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b),
        comp AS (SELECT id, min(r) AS label FROM reach GROUP BY 1),
        q AS (
          SELECT doc_id, round(
            least(len($toks)::DOUBLE / 100.0, 1.0) * 0.4
            + least((len(list_filter($lowToks, t -> list_contains([$allWords], t)))::DOUBLE
                     / greatest(len($toks), 1)::DOUBLE) * 5.0, 1.0) * 0.4
            + (1.0 - least((len(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g'))::DOUBLE
                     / greatest(len(text), 1)::DOUBLE) * 5.0, 1.0)) * 0.2, 6) AS s
          FROM documents),
        best AS (
          SELECT comp.id, row_number() OVER (
            PARTITION BY comp.label ORDER BY q.s DESC, comp.id) AS rn
          FROM comp JOIN q ON q.doc_id = comp.id)
        SELECT d.doc_id, coalesce(best.rn = 1, TRUE) AS keep
        FROM documents d LEFT JOIN best ON d.doc_id = best.id"""
      }),

    "q_repetition" -> Q(
      (s, dir) => TextAnalysis.repetitionRatio(t(s, dir, "documents")),
      Some("""WITH w AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS tk
          FROM documents),
        g AS (
          SELECT doc_id, unnest(list_transform(range(greatest(len(tk)-2, 1)),
            i -> array_to_string(list_slice(tk, i+1, i+3), ' '))) AS g
          FROM w),
        c AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM g GROUP BY 1, 2)
        SELECT doc_id, round(max(c)::DOUBLE / sum(c)::DOUBLE, 6) AS rep_ratio
        FROM c GROUP BY 1""")),

    // ---- similarity search -------------------------------------------

    "q_embed_topk" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val qvec = emb.where(col("vec_id") === 0).select("embedding")
          .head().getSeq[Float](0).map(_.toDouble)
        Similarity.topKCosine(emb, qvec, 20)
      },
      Some("""WITH q AS (SELECT embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id = 0)
        SELECT vec_id,
          round(list_dot_product(embedding::DOUBLE[], q.e)
            / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               * sqrt(list_dot_product(q.e, q.e))), 6) AS cosine_sim
        FROM embeddings, q
        ORDER BY cosine_sim DESC, vec_id LIMIT 20""")),

    "q_ann_lsh" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val qvec = emb.where(col("vec_id") === 0).select("embedding")
          .head().getSeq[Float](0).map(_.toDouble)
        val index = Similarity.buildLshIndex(emb, dim = 64, nBits = 8)
        Similarity.annTopK(index, qvec, 20, dim = 64, nBits = 8)
      },
      Some {
        // Same deterministic hyperplanes as Similarity.lshBucket, as SQL
        // literals.
        val planes = (0 until 8).map { b =>
          (0 until 64).map { j =>
            val hex = java.security.MessageDigest.getInstance("MD5")
              .digest(s"h$b|$j".getBytes("UTF-8"))
            if ((hex(0) & 0x80) != 0) "1.0" else "-1.0"
          }.mkString("[", ", ", "]")
        }
        val bucket = planes.map(p =>
          s"CASE WHEN list_dot_product(embedding::DOUBLE[], $p) >= 0 THEN '1' ELSE '0' END")
          .mkString(" || ")
        s"""WITH idx AS (
          SELECT vec_id, embedding::DOUBLE[] AS e, $bucket AS bucket FROM embeddings),
        q AS (SELECT e, bucket FROM idx WHERE vec_id = 0)
        SELECT i.vec_id,
          round(list_dot_product(i.e, q.e)
            / (sqrt(list_dot_product(i.e, i.e)) * sqrt(list_dot_product(q.e, q.e))), 6) AS cosine_sim
        FROM idx i, q WHERE i.bucket = q.bucket
        ORDER BY cosine_sim DESC, i.vec_id LIMIT 20"""
      }),

    // Batched ANN: a query TABLE (every 100th vector) against the same
    // LSH index — one bucket equi-join + per-query window top-k, the
    // no-driver-collect form that scales to millions of queries. Oracle
    // replays the identical hyperplanes on both sides of the join.
    "q_ann_batch" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val index = Similarity.buildLshIndex(emb, dim = 64, nBits = 8)
        val queries = emb.where(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("query_id"), col("embedding"))
        Similarity.annTopKBatch(index, queries, k = 5, dim = 64, nBits = 8)
      },
      Some {
        val planes = (0 until 8).map { b =>
          (0 until 64).map { j =>
            val hex = java.security.MessageDigest.getInstance("MD5")
              .digest(s"h$b|$j".getBytes("UTF-8"))
            if ((hex(0) & 0x80) != 0) "1.0" else "-1.0"
          }.mkString("[", ", ", "]")
        }
        val bucket = planes.map(p =>
          s"CASE WHEN list_dot_product(embedding::DOUBLE[], $p) >= 0 THEN '1' ELSE '0' END")
          .mkString(" || ")
        s"""WITH idx AS (
          SELECT vec_id, embedding::DOUBLE[] AS e, $bucket AS bucket FROM embeddings),
        q AS (SELECT vec_id AS query_id, e, bucket FROM idx WHERE vec_id % 100 = 0),
        cand AS (
          SELECT q.query_id, i.vec_id,
            round(list_dot_product(i.e, q.e)
              / (sqrt(list_dot_product(i.e, i.e)) * sqrt(list_dot_product(q.e, q.e))), 6) AS cosine_sim
          FROM idx i JOIN q ON i.bucket = q.bucket)
        SELECT query_id, vec_id, cosine_sim FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rn
          FROM cand)
        WHERE rn <= 5"""
      }),

    "q_ivf_topk" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val centroids = emb.where(col("vec_id") < 8)
          .select("vec_id", "embedding").collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).map(_.toDouble).toSeq)).toSeq
        val qvec = emb.where(col("vec_id") === 0).select("embedding")
          .head().getSeq[Float](0).map(_.toDouble)
        val index = Similarity.buildIvfIndex(emb, centroids)
        Similarity.ivfTopK(index, centroids, qvec, 20, nprobe = 2)
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        scored AS (
          SELECT e.vec_id, e.v, c.cid, list_cosine_similarity(e.v, c.cv) AS s
          FROM e CROSS JOIN c),
        assign AS (
          SELECT vec_id, v, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
            FROM scored) WHERE rn = 1),
        q AS (SELECT v FROM e WHERE vec_id = 0),
        qc AS (SELECT c.cid FROM c, q
               ORDER BY list_cosine_similarity(q.v, c.cv) DESC, c.cid LIMIT 2)
        SELECT a.vec_id, round(list_cosine_similarity(a.v, q.v), 6) AS cosine_sim
        FROM assign a, q WHERE a.cid IN (SELECT cid FROM qc)
        ORDER BY cosine_sim DESC, a.vec_id LIMIT 20""")),

    // Batched IVF: a query TABLE probes its own nprobe nearest cells via
    // the broadcast centroid array (k-independent plan), one cell
    // equi-join, per-query window top-k. Oracle replays assignment,
    // per-query probe ranking, and the join.
    "q_ivf_batch" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val centroids = emb.where(col("vec_id") < 8)
          .select("vec_id", "embedding").collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).map(_.toDouble).toSeq)).toSeq
        val index = Similarity.buildIvfIndex(emb, centroids)
        val queries = emb.where(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("query_id"), col("embedding"))
        Similarity.ivfTopKBatch(index, centroids, queries, k = 5, nprobe = 2)
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        scored AS (
          SELECT e.vec_id, e.v, c.cid, list_cosine_similarity(e.v, c.cv) AS s
          FROM e CROSS JOIN c),
        assign AS (
          SELECT vec_id, v, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
            FROM scored) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 100 = 0),
        qc AS (
          SELECT query_id, qv, cid FROM (
            SELECT q.query_id, q.qv, c.cid,
              row_number() OVER (PARTITION BY q.query_id
                ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid) AS rn
            FROM q CROSS JOIN c) WHERE rn <= 2),
        cand AS (
          SELECT qc.query_id, a.vec_id,
            round(list_cosine_similarity(a.v, qc.qv), 6) AS cosine_sim
          FROM qc JOIN assign a USING (cid))
        SELECT query_id, vec_id, cosine_sim FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rn
          FROM cand)
        WHERE rn <= 5""")),

    // same IVF pipeline at k=256 — above MaxLiteralCentroids, so the
    // assignment runs the broadcast centroid-array fold (the 100 TB-scale
    // path, plan size independent of k) end-to-end against the oracle
    // rather than only spec-vs-literal-path
    "q_ivf_large" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val centroids = emb.where(col("vec_id") < 256)
          .select("vec_id", "embedding").collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).map(_.toDouble).toSeq)).toSeq
        val qvec = emb.where(col("vec_id") === 0).select("embedding")
          .head().getSeq[Float](0).map(_.toDouble)
        val index = Similarity.buildIvfIndex(emb, centroids)
        Similarity.ivfTopK(index, centroids, qvec, 20, nprobe = 8)
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 256),
        scored AS (
          SELECT e.vec_id, e.v, c.cid, list_cosine_similarity(e.v, c.cv) AS s
          FROM e CROSS JOIN c),
        assign AS (
          SELECT vec_id, v, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
            FROM scored) WHERE rn = 1),
        q AS (SELECT v FROM e WHERE vec_id = 0),
        qc AS (SELECT c.cid FROM c, q
               ORDER BY list_cosine_similarity(q.v, c.cv) DESC, c.cid LIMIT 8)
        SELECT a.vec_id, round(list_cosine_similarity(a.v, q.v), 6) AS cosine_sim
        FROM assign a, q WHERE a.cid IN (SELECT cid FROM qc)
        ORDER BY cosine_sim DESC, a.vec_id LIMIT 20""")),

    // PQ encode under the oracle: seeded per-subspace codebooks (ksub
    // smallest-id vectors — the kmeansFit seeding), m=8 × ksub=16 = 128
    // total codewords > MaxLiteralCodewords, so this exercises the
    // broadcast-fold encode — the 100 TB path whose plan size is
    // codebook-independent. The oracle replays the three-dot L2 identity,
    // 9-decimal rounding, and the smaller-code tie-break per subspace.
    // Codes render as a CSV string so the compare is exact on both engines.
    "q_pq_codes" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val books = graft.sim.Pq.seedCodebooks(emb, m = 8, ksub = 16)
        graft.sim.Pq.encode(emb, books)
          .select(col("vec_id"),
            expr("array_join(transform(codes, c -> cast(c AS STRING)), ',')")
              .as("codes_str"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v AS sv
                  FROM e ORDER BY vec_id LIMIT 16),
        mis AS (SELECT unnest(range(8)) AS mi),
        books AS (SELECT mis.mi, s.code, s.sv[mis.mi*8+1 : mis.mi*8+8] AS cv
                  FROM seeds s CROSS JOIN mis),
        sub AS (
          SELECT e.vec_id, b.mi, b.code,
            round(
              list_dot_product(e.v[b.mi*8+1 : b.mi*8+8], e.v[b.mi*8+1 : b.mi*8+8])
              - 2 * list_dot_product(e.v[b.mi*8+1 : b.mi*8+8], b.cv)
              + list_dot_product(b.cv, b.cv), 9) AS d
          FROM e CROSS JOIN books b),
        best AS (
          SELECT vec_id, mi, code FROM (
            SELECT vec_id, mi, code,
              row_number() OVER (PARTITION BY vec_id, mi ORDER BY d, code) AS rn
            FROM sub) WHERE rn = 1)
        SELECT vec_id, array_to_string(list(code ORDER BY mi), ',') AS codes_str
        FROM best GROUP BY vec_id""")),

    // PQ ADC top-k under the oracle: the query stays full-precision, the
    // m·ksub partial-dot lookup table is driver arithmetic, and scoring a
    // row is m element_at lookups + an ordered sum (no per-row dot
    // product). Same broadcast-table path as q_pq_codes (128 > literal
    // threshold). The oracle recomputes the identical table with
    // list_dot_product and sums partials in mi order so FP association
    // matches the plan's left fold exactly.
    "q_pq_topk" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val books = graft.sim.Pq.seedCodebooks(emb, m = 8, ksub = 16)
        val qvec = emb.where(col("vec_id") === 0).select("embedding")
          .head().getSeq[Float](0).map(_.toDouble)
        val codes = graft.sim.Pq.encode(emb, books)
        graft.sim.Pq.topKAdc(codes, books, qvec, k = 20)
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v AS sv
                  FROM e ORDER BY vec_id LIMIT 16),
        mis AS (SELECT unnest(range(8)) AS mi),
        books AS (SELECT mis.mi, s.code, s.sv[mis.mi*8+1 : mis.mi*8+8] AS cv
                  FROM seeds s CROSS JOIN mis),
        sub AS (
          SELECT e.vec_id, b.mi, b.code,
            round(
              list_dot_product(e.v[b.mi*8+1 : b.mi*8+8], e.v[b.mi*8+1 : b.mi*8+8])
              - 2 * list_dot_product(e.v[b.mi*8+1 : b.mi*8+8], b.cv)
              + list_dot_product(b.cv, b.cv), 9) AS d
          FROM e CROSS JOIN books b),
        best AS (
          SELECT vec_id, mi, code FROM (
            SELECT vec_id, mi, code,
              row_number() OVER (PARTITION BY vec_id, mi ORDER BY d, code) AS rn
            FROM sub) WHERE rn = 1),
        q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        tabs AS (SELECT b.mi, b.code,
                   list_dot_product(q.qv[b.mi*8+1 : b.mi*8+8], b.cv) AS pd
                 FROM books b, q),
        scored AS (
          SELECT best.vec_id, round(sum(tabs.pd ORDER BY tabs.mi), 6) AS adc_dot
          FROM best JOIN tabs ON best.mi = tabs.mi AND best.code = tabs.code
          GROUP BY best.vec_id)
        SELECT vec_id, adc_dot FROM scored
        ORDER BY adc_dot DESC, vec_id LIMIT 20""")),

    // IVF × PQ composed under the oracle — the FAISS IVFPQ/ADC
    // arrangement: nprobe cell probe bounds the rows touched, ADC lookup
    // scoring bounds the bytes per row. The oracle replays BOTH halves:
    // the q_ivf_topk assignment/probe CTEs select the candidates, the
    // q_pq_topk encode/table CTEs rank exactly those candidates.
    "q_ivfpq_topk" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val centroids = emb.where(col("vec_id") < 8)
          .select("vec_id", "embedding").collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).map(_.toDouble).toSeq)).toSeq
        val books = graft.sim.Pq.seedCodebooks(emb, m = 8, ksub = 16)
        val qvec = emb.where(col("vec_id") === 0).select("embedding")
          .head().getSeq[Float](0).map(_.toDouble)
        val index = Similarity.buildIvfIndex(emb, centroids)
        graft.sim.Pq.ivfAdcTopK(index, centroids, books, qvec,
          k = 20, nprobe = 2)
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        scoredc AS (
          SELECT e.vec_id, e.v, c.cid, list_cosine_similarity(e.v, c.cv) AS s
          FROM e CROSS JOIN c),
        assign AS (
          SELECT vec_id, v, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
            FROM scoredc) WHERE rn = 1),
        q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        qc AS (SELECT c.cid FROM c, q
               ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid LIMIT 2),
        cand AS (SELECT a.vec_id, a.v FROM assign a
                 WHERE a.cid IN (SELECT cid FROM qc)),
        seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v AS sv
                  FROM e ORDER BY vec_id LIMIT 16),
        mis AS (SELECT unnest(range(8)) AS mi),
        books AS (SELECT mis.mi, s.code, s.sv[mis.mi*8+1 : mis.mi*8+8] AS cv
                  FROM seeds s CROSS JOIN mis),
        sub AS (
          SELECT cand.vec_id, b.mi, b.code,
            round(
              list_dot_product(cand.v[b.mi*8+1 : b.mi*8+8], cand.v[b.mi*8+1 : b.mi*8+8])
              - 2 * list_dot_product(cand.v[b.mi*8+1 : b.mi*8+8], b.cv)
              + list_dot_product(b.cv, b.cv), 9) AS d
          FROM cand CROSS JOIN books b),
        best AS (
          SELECT vec_id, mi, code FROM (
            SELECT vec_id, mi, code,
              row_number() OVER (PARTITION BY vec_id, mi ORDER BY d, code) AS rn
            FROM sub) WHERE rn = 1),
        tabs AS (SELECT b.mi, b.code,
                   list_dot_product(q.qv[b.mi*8+1 : b.mi*8+8], b.cv) AS pd
                 FROM books b, q),
        scored AS (
          SELECT best.vec_id, round(sum(tabs.pd ORDER BY tabs.mi), 6) AS adc_dot
          FROM best JOIN tabs ON best.mi = tabs.mi AND best.code = tabs.code
          GROUP BY best.vec_id)
        SELECT vec_id, adc_dot FROM scored
        ORDER BY adc_dot DESC, vec_id LIMIT 20""")),

    // PQ decode path under the oracle: reconstruct approximate vectors
    // from codes and report per-vector squared reconstruction error —
    // the quantity a reranking stage bounds. Error is summed per
    // SUBSPACE in mi order (both engines fold identically), so the
    // compare is FP-association-exact; codebook-member vectors read 0.
    "q_pq_reconstruct" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val books = graft.sim.Pq.seedCodebooks(emb, m = 8, ksub = 16)
        val codes = graft.sim.Pq.encode(emb, books, keep = Seq("embedding"))
        val rec = graft.sim.Pq.reconstruct(codes, books, keep = Seq("embedding"))
        rec.select(col("vec_id"), round(
          aggregate(sequence(lit(0), lit(7)), lit(0.0), (acc, mi) =>
            acc + graft.sim.Pq.l2sq(
              slice(col("embedding").cast("array<double>"),
                mi * lit(8) + lit(1), lit(8)),
              slice(col("approx"), mi * lit(8) + lit(1), lit(8)))),
          6).as("rec_err"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v AS sv
                  FROM e ORDER BY vec_id LIMIT 16),
        mis AS (SELECT unnest(range(8)) AS mi),
        books AS (SELECT mis.mi, s.code, s.sv[mis.mi*8+1 : mis.mi*8+8] AS cv
                  FROM seeds s CROSS JOIN mis),
        sub AS (
          SELECT e.vec_id, b.mi, b.code,
            round(
              list_dot_product(e.v[b.mi*8+1 : b.mi*8+8], e.v[b.mi*8+1 : b.mi*8+8])
              - 2 * list_dot_product(e.v[b.mi*8+1 : b.mi*8+8], b.cv)
              + list_dot_product(b.cv, b.cv), 9) AS d
          FROM e CROSS JOIN books b),
        best AS (
          SELECT vec_id, mi, code FROM (
            SELECT vec_id, mi, code,
              row_number() OVER (PARTITION BY vec_id, mi ORDER BY d, code) AS rn
            FROM sub) WHERE rn = 1)
        SELECT e.vec_id,
          round(sum(
            list_dot_product(e.v[b.mi*8+1 : b.mi*8+8], e.v[b.mi*8+1 : b.mi*8+8])
            - 2 * list_dot_product(e.v[b.mi*8+1 : b.mi*8+8], b.cv)
            + list_dot_product(b.cv, b.cv)
            ORDER BY b.mi), 6) AS rec_err
        FROM e JOIN best ON best.vec_id = e.vec_id
        JOIN books b ON b.mi = best.mi AND b.code = best.code
        GROUP BY e.vec_id""")),

    // Batched IVFPQ: a query TABLE through the PQ index — per-query cell
    // probe via the broadcast centroid array, one cell equi-join, ADC
    // from the broadcast codebooks, per-query window top-k. No driver
    // collect of queries anywhere; the oracle replays probe + encode +
    // per-pair subspace dots with the identical fold order.
    "q_ivfpq_batch" -> Q(
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val centroids = emb.where(col("vec_id") < 8)
          .select("vec_id", "embedding").collect()
          .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).map(_.toDouble).toSeq)).toSeq
        val books = graft.sim.Pq.seedCodebooks(emb, m = 8, ksub = 16)
        val index = Similarity.buildIvfIndex(emb, centroids)
        val queries = emb.where(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("query_id"), col("embedding"))
        graft.sim.Pq.ivfAdcTopKBatch(index, centroids, books, queries,
          k = 5, nprobe = 2)
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        scoredc AS (
          SELECT e.vec_id, e.v, c.cid, list_cosine_similarity(e.v, c.cv) AS s
          FROM e CROSS JOIN c),
        assign AS (
          SELECT vec_id, v, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
            FROM scoredc) WHERE rn = 1),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id % 100 = 0),
        qc AS (
          SELECT query_id, qv, cid FROM (
            SELECT q.query_id, q.qv, c.cid,
              row_number() OVER (PARTITION BY q.query_id
                ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid) AS rn
            FROM q CROSS JOIN c) WHERE rn <= 2),
        seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v AS sv
                  FROM e ORDER BY vec_id LIMIT 16),
        mis AS (SELECT unnest(range(8)) AS mi),
        books AS (SELECT mis.mi, s.code, s.sv[mis.mi*8+1 : mis.mi*8+8] AS cv
                  FROM seeds s CROSS JOIN mis),
        sub AS (
          SELECT e.vec_id, b.mi, b.code,
            round(
              list_dot_product(e.v[b.mi*8+1 : b.mi*8+8], e.v[b.mi*8+1 : b.mi*8+8])
              - 2 * list_dot_product(e.v[b.mi*8+1 : b.mi*8+8], b.cv)
              + list_dot_product(b.cv, b.cv), 9) AS d
          FROM e CROSS JOIN books b),
        best AS (
          SELECT vec_id, mi, code FROM (
            SELECT vec_id, mi, code,
              row_number() OVER (PARTITION BY vec_id, mi ORDER BY d, code) AS rn
            FROM sub) WHERE rn = 1),
        pairs AS (
          SELECT qc.query_id, a.vec_id,
            round(sum(list_dot_product(qc.qv[b.mi*8+1 : b.mi*8+8], b.cv)
                      ORDER BY b.mi), 6) AS adc_dot
          FROM qc JOIN assign a USING (cid)
          JOIN best ON best.vec_id = a.vec_id
          JOIN books b ON b.mi = best.mi AND b.code = best.code
          GROUP BY qc.query_id, a.vec_id)
        SELECT query_id, vec_id, adc_dot FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY adc_dot DESC, vec_id) AS rn
          FROM pairs)
        WHERE rn <= 5""")),

    "q_range_join" -> Q(
      (s, dir) => {
        // purchases within +-1h of each error event, counted per error —
        // bucketized interval join (see Joins.rangeJoin), not a
        // nested-loop non-equi join.
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("event_type"),
            expr("ts_ns DIV 1000000000").as("sec"))
        val errors = ev.where(col("event_type") === "error")
          .select(col("event_id").as("error_id"),
            (col("sec") - 3600).as("wstart"), (col("sec") + 3600).as("wend"))
        val purchases = ev.where(col("event_type") === "purchase")
          .select(col("sec").as("psec"))
        Joins.rangeJoin(purchases, "psec", errors, "wstart", "wend", bucketWidth = 7200)
          .groupBy("error_id")
          .agg(count(lit(1)).as("n_purchases"))
      },
      Some("""WITH ev AS (
          SELECT event_id, event_type, floor(epoch(ts))::BIGINT AS sec FROM events)
        SELECT e.event_id AS error_id, count(*)::BIGINT AS n_purchases
        FROM (SELECT * FROM ev WHERE event_type = 'error') e
        JOIN (SELECT * FROM ev WHERE event_type = 'purchase') p
          ON p.sec BETWEEN e.sec - 3600 AND e.sec + 3600
        GROUP BY 1""")),

    // ---- events: windows / sessionization / kv parse -----------------

    "q_window_hourly" -> Q(
      (s, dir) => t(s, dir, "events")
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(cents(col("value"))).as("value_cents")),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        event_type, count(*)::BIGINT AS cnt,
        sum((round(value*100, 0))::BIGINT)::BIGINT AS value_cents
        FROM events GROUP BY 1, 2""")),

    "q_window_sliding" -> Q(
      // sliding 1h windows every 15 min (batch form of the streaming op);
      // oracle reconstructs Spark's window() semantics arithmetically
      (s, dir) => t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("window"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
          col("event_type"), col("cnt")),
      Some("""SELECT strftime(date_trunc('hour', ts)
            + to_minutes(15 * (floor(extract(minute FROM ts) / 15)::INT))
            - to_minutes(15 * k), '%Y-%m-%d %H:%M:%S') AS wstart,
          event_type, count(*)::BIGINT AS cnt
        FROM events, unnest([0, 1, 2, 3]) AS t(k)
        GROUP BY 1, 2""")),

    "q_sessionize" -> Q(
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("user_id"), col("event_id"),
          expr("ts_ns DIV 1000000000").as("sec"),
          cents(col("value")).as("vc"))
        val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
        ev.withColumn("gap", col("sec") - lag("sec", 1).over(w))
          .withColumn("is_new", when(col("gap").isNull || col("gap") > 1800, 1L).otherwise(0L))
          .withColumn("sess", sum("is_new").over(w))
          .groupBy("user_id", "sess")
          .agg(min("sec").as("session_start"), count(lit(1)).as("n_events"),
            sum("vc").as("value_cents"))
      },
      Some("""WITH ev AS (
          SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS sec,
            (round(value*100, 0))::BIGINT AS vc
          FROM events),
        g AS (
          SELECT user_id, event_id, sec, vc,
            sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS gap
          FROM ev),
        sessed AS (
          SELECT user_id, sec, vc,
            sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY sec, event_id)::BIGINT AS sess
          FROM g)
        SELECT user_id, sess, min(sec)::BIGINT AS session_start,
          count(*)::BIGINT AS n_events, sum(vc)::BIGINT AS value_cents
        FROM sessed GROUP BY 1, 2""")),

    // ---- beyond-parity relational ops (cube/rollup/grouping sets) ----

    "q_cube" -> Q(
      (s, dir) => t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity").cast("long")).as("sum_qty")),
      Some("""SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS cnt,
        sum(l_quantity::BIGINT)::BIGINT AS sum_qty
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""")),

    "q_rollup" -> Q(
      (s, dir) => t(s, dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"), sum(cents(col("o_totalprice"))).as("price_cents")),
      Some("""SELECT o_orderstatus, o_orderpriority, count(*)::BIGINT AS cnt,
        sum((round(o_totalprice*100, 0))::BIGINT)::BIGINT AS price_cents
        FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""")),

    "q_grouping_sets" -> Q(
      (s, dir) => {
        Tables.load(s, dir, "events").createOrReplaceTempView("events")
        s.sql("""SELECT event_type, user_id, count(1) AS cnt
          FROM events
          GROUP BY GROUPING SETS ((event_type), (user_id), ())""")
      },
      Some("""SELECT event_type, user_id, count(*)::BIGINT AS cnt
        FROM events GROUP BY GROUPING SETS ((event_type), (user_id), ())""")),

    // ---- as-of join (scale-safe union+window form vs DuckDB ASOF) -----

    "q_asof_join" -> Q(
      (s, dir) => {
        // For each purchase: the most recent click by the same user at or
        // before it. NOT a non-equi join (quadratic per user at scale) —
        // union both sides, one window pass: last click carried forward.
        val ev = t(s, dir, "events")
          .select(col("event_id"), col("user_id"),
            expr("ts_ns DIV 1000000000").as("sec"), col("event_type"))
        val clicks = ev.where(col("event_type") === "click")
          .select(col("user_id"), col("sec"), lit(0).as("kind"),
            lit(null).cast("long").as("event_id"), col("sec").as("click_sec"))
        val purch = ev.where(col("event_type") === "purchase")
          .select(col("user_id"), col("sec"), lit(1).as("kind"),
            col("event_id"), lit(null).cast("long").as("click_sec"))
        val w = Window.partitionBy("user_id")
          .orderBy("sec", "kind") // click sorts before same-second purchase
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        clicks.unionByName(purch)
          .withColumn("last_click_sec", last("click_sec", ignoreNulls = true).over(w))
          .where(col("kind") === 1)
          .select(col("event_id"), col("user_id"), col("sec").as("purchase_sec"),
            col("last_click_sec"))
      },
      Some("""WITH ev AS (
          SELECT event_id, user_id, floor(epoch(ts))::BIGINT AS sec, event_type
          FROM events)
        SELECT p.event_id, p.user_id, p.sec AS purchase_sec,
               c.sec AS last_click_sec
        FROM (SELECT * FROM ev WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM ev WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND c.sec <= p.sec""")),

    // ---- external-process pipe (§2.8), subprocess really forked -------

    "q_pipe" -> Q(
      (s, dir) => {
        val kv = t(s, dir, "nation")
          .select(col("n_nationkey").cast("string").as("key"), col("n_name").as("value"))
        graft.ops.Pipe.pipe(kv, Seq("cat"))
      },
      Some("SELECT n_nationkey::VARCHAR AS key, n_name AS value FROM nation")),

    "q_pipe_tr" -> Q(
      // pipe through a real transforming subprocess (tr uppercases the
      // value side of the line protocol)
      (s, dir) => {
        val kv = t(s, dir, "nation")
          .select(col("n_nationkey").cast("string").as("key"),
            lower(col("n_name")).as("value"))
        graft.ops.Pipe.pipe(kv, Seq("tr", "a-z", "A-Z"))
      },
      Some("SELECT n_nationkey::VARCHAR AS key, upper(lower(n_name)) AS value FROM nation")),

    "q_capped_uniq" -> Q(
      // the reference's capped UniqValueCount (TreeMap retention: the
      // smallest `cap` distinct values survive) via the typed Aggregator
      (s, dir) => {
        val agg = udaf(new graft.agg.CappedUniq(3))
        t(s, dir, "orders")
          .groupBy(col("o_orderpriority").as("id"))
          .agg(agg(col("o_orderstatus")).as("r"))
          .select(col("id"), col("r.count").as("cnt"),
            array_join(col("r.items"), ",").as("items"))
      },
      Some("""SELECT o_orderpriority AS id,
        least(count(DISTINCT o_orderstatus), 3)::BIGINT AS cnt,
        array_to_string(list_slice(list_sort(list_distinct(list(o_orderstatus))), 1, 3), ',') AS items
        FROM orders GROUP BY 1""")),

    // ---- exact n-gram Jaccard over LSH candidates ---------------------

    "q_ngram_jaccard" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pairs = Dedup.minhashCandidates(docs, numPerms = 8, rowsPerBand = 2,
          maxBucket = 1000000)
        Dedup.ngramJaccard(docs, pairs) // jaccard pre-rounded at 6 digits
      },
      Some {
        val bandSelects = (0 until 4).map { b =>
          val (i, j) = (2 * b, 2 * b + 1)
          val sel = s"SELECT doc_id, $b AS band, md5(sig$i::VARCHAR || '|' || sig$j::VARCHAR) AS bkey FROM sig"
          if (b == 0) sel else s"UNION ALL $sel"
        }.mkString(" ")
        s"""WITH w AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS tk
          FROM documents),
        shl AS (
          SELECT doc_id, list_distinct(list_transform(range(greatest(len(tk)-2, 1)),
            i -> array_to_string(list_slice(tk, i+1, i+3), ' '))) AS shs
          FROM w),
        sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
        hx AS (
          SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT % ${Dedup.MinhashP} AS x
          FROM sh),
        sig AS (SELECT doc_id, ${minhashSigSql(8)} FROM hx GROUP BY 1),
        bands AS ($bandSelects),
        pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
          WHERE a.doc_id < b.doc_id),
        sizes AS (SELECT doc_id, len(shs)::BIGINT AS sz FROM shl),
        inter AS (
          SELECT p.doc_a, p.doc_b, count(*)::BIGINT AS inter
          FROM pairs p
          JOIN sh a ON a.doc_id = p.doc_a
          JOIN sh b ON b.doc_id = p.doc_b AND a.sh = b.sh
          GROUP BY 1, 2)
        SELECT p.doc_a, p.doc_b,
          round(coalesce(i.inter, 0)::DOUBLE
            / (sa.sz + sb.sz - coalesce(i.inter, 0)), 6) AS jaccard
        FROM pairs p
        LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
        JOIN sizes sa ON sa.doc_id = p.doc_a
        JOIN sizes sb ON sb.doc_id = p.doc_b"""
      }),

    "q_dedup_incr_near" -> Q(
      // Incremental NEAR-dup: new batch (non-history docs + 40 re-crawls
      // with one appended token — Jaccard just under 1) probed against
      // the history band table, Jaccard-verified ≥ 0.8. The oracle
      // replays minhash/banding/Jaccard over the same b:/h:-prefixed
      // corpus and keeps only batch×history pairs.
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val history = docs.where(col("doc_id") % 3 === 0)
          .select("doc_id", "text")
        val recrawl = docs.where(col("doc_id") % 3 === 0 && col("doc_id") < 120)
          .select((col("doc_id") + lit(5000000L)).as("doc_id"),
            concat(col("text"), lit(" graftzz")).as("text"))
        val batch = docs.where(col("doc_id") % 3 =!= 0)
          .select("doc_id", "text").unionByName(recrawl)
        Dedup.incrementalNearDups(batch, history, threshold = 0.8,
            maxBucket = 1000000) // jaccard pre-rounded at 6 digits
          .withColumn("batch_id", col("batch_id").cast("long"))
          .withColumn("hist_id", col("hist_id").cast("long"))
      },
      Some {
        val bandSelects = (0 until 4).map { b =>
          val (i, j) = (2 * b, 2 * b + 1)
          val sel = s"SELECT did, $b AS band, md5(sig$i::VARCHAR || '|' || sig$j::VARCHAR) AS bkey FROM sig"
          if (b == 0) sel else s"UNION ALL $sel"
        }.mkString(" ")
        s"""WITH base AS (
          SELECT 'h:' || doc_id::VARCHAR AS did, text FROM documents WHERE doc_id % 3 = 0
          UNION ALL
          SELECT 'b:' || doc_id::VARCHAR, text FROM documents WHERE doc_id % 3 <> 0
          UNION ALL
          SELECT 'b:' || (doc_id + 5000000)::VARCHAR, text || ' graftzz'
          FROM documents WHERE doc_id % 3 = 0 AND doc_id < 120),
        w AS (
          SELECT did, list_filter(string_split(text, ' '), x -> len(x) > 0) AS tk
          FROM base),
        shl AS (
          SELECT did, list_distinct(list_transform(range(greatest(len(tk)-2, 1)),
            i -> array_to_string(list_slice(tk, i+1, i+3), ' '))) AS shs
          FROM w),
        sh AS (SELECT did, unnest(shs) AS sh FROM shl),
        hx AS (
          SELECT did, ('0x' || substr(md5(sh), 1, 15))::BIGINT % ${Dedup.MinhashP} AS x
          FROM sh),
        sig AS (SELECT did, ${minhashSigSql(8).replace("doc_id", "did")} FROM hx GROUP BY 1),
        bands AS ($bandSelects),
        pairs AS (
          SELECT DISTINCT a.did AS da, b.did AS db
          FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
          WHERE a.did LIKE 'b:%' AND b.did LIKE 'h:%'),
        sizes AS (SELECT did, len(shs)::BIGINT AS sz FROM shl),
        inter AS (
          SELECT p.da, p.db, count(*)::BIGINT AS inter
          FROM pairs p
          JOIN sh a ON a.did = p.da
          JOIN sh b ON b.did = p.db AND a.sh = b.sh
          GROUP BY 1, 2),
        j AS (
          SELECT p.da, p.db,
            coalesce(i.inter, 0)::DOUBLE
              / (sa.sz + sb.sz - coalesce(i.inter, 0)) AS jac
          FROM pairs p
          LEFT JOIN inter i ON i.da = p.da AND i.db = p.db
          JOIN sizes sa ON sa.did = p.da
          JOIN sizes sb ON sb.did = p.db)
        SELECT substr(da, 3)::BIGINT AS batch_id, substr(db, 3)::BIGINT AS hist_id,
          round(jac, 6) AS jaccard
        FROM j WHERE round(jac, 6) >= 0.8"""
      }),

    "q_kv_parse" -> Q(
      (s, dir) => t(s, dir, "events")
        .select(col("event_type"),
          regexp_extract(col("props"), "([0-9]+)", 1).cast("long").as("k"))
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"), count(lit(1)).as("cnt")),
      Some("""SELECT event_type,
        sum((regexp_extract(props, '([0-9]+)', 1))::BIGINT)::BIGINT AS sum_k,
        count(*)::BIGINT AS cnt
        FROM events GROUP BY 1""")),
  )

  /** Full registry: the round-1/2 set above plus the round-3 additions
    * (kept in [[ExtraQueries]] to avoid a 2000-line file).
    */
  def fullRegistry: Map[String, Q] =
    registry ++
      (ExtraQueries.registry ++ MoreQueries.registry ++
        PipelineQueries.registry)
        .map { case (k, (fn, sql)) => k -> Q(fn, sql) }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    fullRegistry.map { case (k, q) => k -> q.fn }

  def oracleSql: Map[String, String] =
    fullRegistry.collect { case (k, Q(_, Some(sql))) => k -> sql }
}
