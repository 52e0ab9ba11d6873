package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** Round-10 training-data curation batch: importance-based data
  * selection (DSIR), temperature-flattened language mixing,
  * leakage-safe cluster-aware splits, a declarative data-quality
  * expectation suite, exact-moment outlier gating, and fuzzy
  * (MinHash) benchmark decontamination. All are published-recipe
  * operators a 100 TB pretraining pipeline runs between ingest and
  * tokenization; none exist in the reference (its users hand-rolled
  * fixed-rate sampling and exact-match joins in MapReduce), so these
  * extend the engine along the same Spark-first lines as [[Queries]].
  *
  * Determinism rules as everywhere else in the repo: md5-only hashing,
  * exact integer moments where association matters, doubles only
  * through expressions written identically on both engines, rounds at
  * 9/6 digits before any aggregation/compare.
  */
object PipelineQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The repo-wide [0,1) md5 hash — one definition, in Sampling. */
  private def hash01(key: Column): Column = graft.ops.Sampling.hash01(key)

  /** Shared DuckDB CTE prefix replaying the MinHash/LSH pipeline
    * (tokens → distinct 3-shingles → shingle hash → 8 signature mins →
    * 4 two-row bands) exactly as [[Dedup.minhashSignatures]] /
    * [[Dedup.lshBands]] compute it. Emits CTEs `shd` (distinct
    * (doc_id, sh)) and `bands` ((doc_id, band, bkey)); callers append
    * their own candidate/verify SQL.
    */
  /** The tokenize → distinct 3-shingle → shingle-hash CTE prefix every
    * MinHash oracle shares (emits `shd` and `hx`), replaying
    * [[Dedup.shingles]]/[[Dedup.shingleHash]] verbatim.
    */
  private def shingleCtes: String =
    s"""tk AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS tk
        FROM documents),
      shl AS (
        SELECT doc_id, unnest(list_transform(range(greatest(len(tk) - 2, 1)),
          i -> array_to_string(list_slice(tk, i + 1, i + 3), ' '))) AS sh
        FROM tk),
      shd AS (SELECT DISTINCT doc_id, sh FROM shl),
      hx AS (
        SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT % ${Dedup.MinhashP} AS x
        FROM shd)"""

  /** DuckDB select-list of `numPerms` MinHash signature mins over the
    * `hx` CTE — same affine constants as [[Dedup.minhashSignatures]].
    */
  private def sigSelects(numPerms: Int): String =
    (0 until numPerms).map { i =>
      s"min((x * ${Dedup.minhashA(i)} + ${Dedup.minhashB(i)}) % ${Dedup.MinhashP})::BIGINT AS sig$i"
    }.mkString(", ")

  /** Banded key selects replaying [[Dedup.lshBands]] for a `sig` CTE of
    * `numPerms` components split into bands of `rowsPerBand`.
    */
  private def bandSelects(numPerms: Int, rowsPerBand: Int,
                          from: String = "sig"): String =
    (0 until numPerms / rowsPerBand).map { b =>
      val cols = (0 until rowsPerBand)
        .map(i => s"sig${b * rowsPerBand + i}::VARCHAR")
        .mkString(" || '|' || ")
      val sel = s"SELECT doc_id, $b AS band, md5($cols) AS bkey FROM $from"
      if (b == 0) sel else s"UNION ALL $sel"
    }.mkString(" ")

  /** DuckDB replay of [[graft.sim.Similarity]]'s md5-seeded hyperplane
    * LSH bucket (table 0, seeds "h<b>|<j>", 64 dims) — the shared oracle
    * fragment for every LSH-index query (q_ann_recall, q_ann_ndcg,
    * q_hard_negatives).
    */
  private def lshBucketSql(nBits: Int): String = {
    val planes = (0 until nBits).map { b =>
      (0 until 64).map { j =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(graft.sim.Similarity.planeSeed(0, b, j).getBytes("UTF-8"))
        if ((hex(0) & 0x80) != 0) "1.0" else "-1.0"
      }.mkString("[", ", ", "]")
    }
    planes.map(p =>
      s"CASE WHEN list_dot_product(embedding::DOUBLE[], $p) >= 0 THEN '1' ELSE '0' END")
      .mkString(" || ")
  }

  private def minhashCtes: String =
    s"""$shingleCtes,
      sig AS (SELECT doc_id, ${sigSelects(8)} FROM hx GROUP BY 1),
      bands AS (${bandSelects(8, 2)})"""

  val registry: Map[String, (
    (SparkSession, String) => DataFrame, Option[String])] = Map(

    // DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling"): hash unigrams
    // into 64 feature buckets, fit add-one-smoothed bucket
    // distributions for the TARGET slice (lang = 'en') and the RAW
    // corpus, and score every doc by its summed log-likelihood ratio.
    // Scale: the feature model is a 64-row table — broadcast, never
    // shuffled with the corpus; the per-doc score is one (doc, bucket)
    // partial agg + a broadcast join, so the whole selector is two
    // map-side-combined passes over the scan regardless of corpus size.
    "q_dsir_weights" -> (((s: SparkSession, dir: String) => {
      val bkt = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) > 0)
        .withColumn("b",
          graft.functions.HashExpressions.md5PrefixLong(col("w"), 15) % 64)
      val stats = bkt.groupBy("b").agg(
        count(lit(1)).as("r"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tt"))
      val totals = stats.agg(sum("r").as("tr_tot"), sum("tt").as("tt_tot"))
      val lrTbl = stats.crossJoin(broadcast(totals)).select(col("b"),
        round(log((col("tt") + lit(1.0)) / (col("tt_tot") + lit(64.0))) -
          log((col("r") + lit(1.0)) / (col("tr_tot") + lit(64.0))), 9).as("lr"))
      bkt.groupBy("doc_id", "b").agg(count(lit(1)).as("n"))
        .join(broadcast(lrTbl), "b")
        .groupBy("doc_id")
        .agg(sum("n").as("n_tokens"),
          round(sum(col("n") * col("lr")), 6).as("dsir_logratio"))
        .withColumn("target_like", col("dsir_logratio") > 0)
        .orderBy("doc_id")
    }, Some("""WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        FROM documents),
      tk AS (
        SELECT doc_id, lang, ('0x' || substr(md5(w), 1, 15))::BIGINT % 64 AS b
        FROM tok WHERE len(w) > 0),
      stats AS (
        SELECT b, count(*)::BIGINT AS r,
          sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS tt
        FROM tk GROUP BY 1),
      tot AS (SELECT sum(r)::BIGINT AS tr_tot, sum(tt)::BIGINT AS tt_tot FROM stats),
      lr AS (
        SELECT b, round(ln((tt + 1.0) / (tt_tot + 64.0))
                      - ln((r + 1.0) / (tr_tot + 64.0)), 9) AS lr
        FROM stats, tot),
      pd AS (SELECT doc_id, b, count(*)::BIGINT AS n FROM tk GROUP BY 1, 2)
      SELECT pd.doc_id, sum(n)::BIGINT AS n_tokens,
        round(sum(n * lr.lr), 6) AS dsir_logratio,
        (round(sum(n * lr.lr), 6) > 0) AS target_like
      FROM pd JOIN lr USING (b)
      GROUP BY 1 ORDER BY 1"""))),

    // Temperature-flattened language mixing (the alpha = 0.5 sampling
    // of Conneau & Lample 2019 / mT5): per-language sampling weight
    // w = sqrt(n_max / n_lang), so the head language keeps rate 1 and
    // rare languages are upsampled toward a flatter distribution; the
    // weights feed the deterministic weightedRepeat generator (floor(w)
    // copies + md5 fractional gate). sqrt and one division are both
    // exactly-rounded IEEE ops, so the weights — and therefore the
    // exact copy set — replay on any engine. Scale: the weight table is
    // |languages| rows (broadcast); the mix decision rides the scan.
    "q_alpha_mix" -> (((s: SparkSession, dir: String) => {
      val d = t(s, dir, "documents").select("doc_id", "lang")
      val cnt = d.groupBy("lang").agg(count(lit(1)).as("n_lang"))
      val nmax = cnt.agg(max("n_lang").as("n_max"))
      val w = cnt.crossJoin(broadcast(nmax)).select(col("lang"),
        sqrt(col("n_max").cast("double") / col("n_lang")).as("w"))
      graft.ops.Sampling.weightedRepeat(
          d.join(broadcast(w), "lang"), col("doc_id"), col("w"))
        .select("doc_id", "lang", "copy_id")
    }, Some("""WITH c AS (
        SELECT lang, count(*)::BIGINT AS n_lang FROM documents GROUP BY 1),
      m AS (SELECT max(n_lang) AS n_max FROM c),
      w AS (SELECT lang, sqrt(n_max::DOUBLE / n_lang) AS w FROM c, m),
      d AS (
        SELECT doc_id, d0.lang AS lang, w.w AS w,
          ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT / 4294967296.0 AS h
        FROM documents d0 JOIN w USING (lang)),
      n AS (
        SELECT doc_id, lang,
          floor(w)::BIGINT + (CASE WHEN h < w - floor(w) THEN 1 ELSE 0 END) AS cnt
        FROM d)
      SELECT doc_id, lang, unnest(range(cnt)) AS copy_id
      FROM n WHERE cnt > 0"""))),

    // Leakage-safe train/valid/test split: assign by NEAR-DUP CLUSTER,
    // not by doc — a doc-hash split (q_split_assign) puts near-identical
    // docs on both sides of the train/eval boundary, the train-test
    // leakage Lee et al. 2022 measured; hashing the connected-component
    // label instead keeps every near-dup family in one split. Singleton
    // docs (no LSH candidate edge) are their own component. Scale: the
    // cluster labels are the same O(diameter) min-label propagation as
    // q_dedup_corpus; the split itself is a pure hash gate on the label.
    // The oracle walks reachability with an independent recursive CTE.
    "q_cluster_split" -> (((s: SparkSession, dir: String) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashCandidates(docs,
        numPerms = 8, rowsPerBand = 2, maxBucket = 1000000)
      val comp = Dedup.dedupClusters(pairs)
      val labeled = docs.select("doc_id")
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster"), col("doc_id")).as("component"))
      val h = hash01(col("component"))
      labeled
        .withColumn("split",
          when(h < 0.8, "train").when(h < 0.9, "valid").otherwise("test"))
        .orderBy("doc_id")
    }, Some {
      s"""WITH RECURSIVE $minhashCtes,
      edges AS (
        SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
        WHERE a.doc_id <> b.doc_id),
      walk(node, comp) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, wk.comp FROM walk wk JOIN edges e ON e.src = wk.node),
      comp AS (SELECT node AS doc_id, min(comp)::BIGINT AS component
               FROM walk GROUP BY 1),
      allc AS (
        SELECT d.doc_id, coalesce(c.component, d.doc_id)::BIGINT AS component
        FROM documents d LEFT JOIN comp c USING (doc_id)),
      hh AS (
        SELECT doc_id, component,
          ('0x' || substr(md5(component::VARCHAR), 1, 8))::BIGINT
            / 4294967296.0 AS h
        FROM allc)
      SELECT doc_id, component,
        CASE WHEN h < 0.8 THEN 'train' WHEN h < 0.9 THEN 'valid'
             ELSE 'test' END AS split
      FROM hh ORDER BY doc_id"""
    })),

    // Declarative data-quality expectation suite (the Deequ / Great
    // Expectations pattern): each rule is (rule, violations, total,
    // pass) — null gates, range gates, primary-key uniqueness, two
    // referential-integrity checks, and a cross-table ordering
    // invariant. Scale: all same-table rules share ONE conditional-agg
    // scan per table (map-side combined); RI rules are anti-joins that
    // broadcast when the parent side is small and AQE-shuffle
    // otherwise; nothing collects row data — violation COUNTS, not
    // violating rows, come back to the driver.
    "q_expectations" -> (((s: SparkSession, dir: String) => {
      val orders = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val cust = t(s, dir, "customer")
      val oAgg = orders.agg(
        count(lit(1)).as("total"),
        sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)).as("v_price"),
        sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("v_date"))
      val lAgg = li.agg(
        count(lit(1)).as("total"),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
          .otherwise(0L)).as("v_qty"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L)
          .otherwise(0L)).as("v_disc"))
      val pkDup = li.groupBy("l_orderkey", "l_linenumber")
        .agg(count(lit(1)).as("cnt")).where(col("cnt") > 1)
        .agg(coalesce(sum(col("cnt") - 1), lit(0L)).as("violations"))
      val fkOrders = orders.join(cust,
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("violations"))
      val fkLi = li.join(orders,
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("violations"))
      val shipOrd = li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .agg(sum(when(col("l_shipdate") < col("o_orderdate"), 1L)
          .otherwise(0L)).as("violations"))
      def row(name: String, viol: Column, total: Column)
             (src: DataFrame): DataFrame =
        src.select(lit(name).as("rule"), viol.cast("long").as("violations"),
          total.cast("long").as("total"))
      val oTot = oAgg.select(col("total"))
      val lTot = lAgg.select(col("total"))
      Seq(
        row("orders_totalprice_positive", col("v_price"), col("total"))(oAgg),
        row("orders_orderdate_nonnull", col("v_date"), col("total"))(oAgg),
        row("orders_custkey_fk", col("violations"), col("o_total"))(
          fkOrders.crossJoin(broadcast(oTot.select(col("total").as("o_total"))))),
        row("lineitem_qty_range", col("v_qty"), col("total"))(lAgg),
        row("lineitem_discount_range", col("v_disc"), col("total"))(lAgg),
        row("lineitem_pk_unique", col("violations"), col("l_total"))(
          pkDup.crossJoin(broadcast(lTot.select(col("total").as("l_total"))))),
        row("lineitem_orderkey_fk", col("violations"), col("l_total"))(
          fkLi.crossJoin(broadcast(lTot.select(col("total").as("l_total"))))),
        row("lineitem_ship_after_order", col("violations"), col("l_total"))(
          shipOrd.crossJoin(broadcast(lTot.select(col("total").as("l_total"))))))
        .reduce(_ unionByName _)
        .withColumn("pass", col("violations") === 0L)
        .orderBy("rule")
    }, Some("""WITH ot AS (SELECT count(*)::BIGINT AS t FROM orders),
      lt AS (SELECT count(*)::BIGINT AS t FROM lineitem),
      rules AS (
        SELECT 'orders_totalprice_positive' AS rule,
          (SELECT count(*) FROM orders WHERE o_totalprice <= 0)::BIGINT
            AS violations, ot.t AS total FROM ot
        UNION ALL
        SELECT 'orders_orderdate_nonnull',
          (SELECT count(*) FROM orders WHERE o_orderdate IS NULL)::BIGINT,
          ot.t FROM ot
        UNION ALL
        SELECT 'orders_custkey_fk',
          (SELECT count(*) FROM orders o LEFT JOIN customer c
            ON o.o_custkey = c.c_custkey
            WHERE c.c_custkey IS NULL)::BIGINT, ot.t FROM ot
        UNION ALL
        SELECT 'lineitem_qty_range',
          (SELECT count(*) FROM lineitem
            WHERE l_quantity < 1 OR l_quantity > 50)::BIGINT, lt.t FROM lt
        UNION ALL
        SELECT 'lineitem_discount_range',
          (SELECT count(*) FROM lineitem
            WHERE l_discount < 0 OR l_discount > 0.1)::BIGINT, lt.t FROM lt
        UNION ALL
        SELECT 'lineitem_pk_unique',
          (SELECT coalesce(sum(cnt - 1), 0) FROM (
            SELECT count(*) AS cnt FROM lineitem
            GROUP BY l_orderkey, l_linenumber) WHERE cnt > 1)::BIGINT,
          lt.t FROM lt
        UNION ALL
        SELECT 'lineitem_orderkey_fk',
          (SELECT count(*) FROM lineitem l LEFT JOIN orders o
            ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderkey IS NULL)::BIGINT, lt.t FROM lt
        UNION ALL
        SELECT 'lineitem_ship_after_order',
          (SELECT count(*) FROM lineitem l JOIN orders o
            ON l.l_orderkey = o.o_orderkey
            WHERE l.l_shipdate < o.o_orderdate)::BIGINT, lt.t FROM lt)
      SELECT rule, violations, total, (violations = 0) AS pass
      FROM rules ORDER BY rule"""))),

    // Per-group outlier gate over exact integer moments: value → cents,
    // per-event-type (n, Σc, Σc²) in exact BIGINT arithmetic, std from
    // ONE double expression written identically on both engines, then a
    // |z| > 1.5 count and the max |z|. The moment trick is what makes a
    // mean/std gate deterministic under ANY partitioning — a double
    // running sum would be association-order-dependent and could not be
    // hash-compared across engines (or between two cluster runs).
    // Scale: one map-side-combined agg for the moments (|types| rows,
    // broadcast back), one scan for the gate — no sort, no window.
    "q_zscore_outliers" -> (((s: SparkSession, dir: String) => {
      val base = t(s, dir, "events").select(col("event_type"),
        round(col("value") * 100).cast("long").as("c"))
      val stats = base.groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("c").as("s1"),
          sum(col("c") * col("c")).as("s2"))
        // a singleton group has no sample variance (stdc = sqrt(0/0))
        // and a zero-variance group divides by stdc = 0: either way
        // every z is NaN, with engine-dependent NaN comparison
        // semantics — drop both classes on BOTH sides, testing the
        // stdc numerator in the SAME double expression stdc uses
        .where(col("n") > 1 &&
          col("s2").cast("double") * col("n") >
            col("s1").cast("double") * col("s1"))
        .withColumn("stdc", sqrt(
          (col("s2").cast("double") * col("n") -
            col("s1").cast("double") * col("s1")) /
          (col("n").cast("double") * (col("n") - 1))))
      val outl = base.join(broadcast(stats), "event_type")
        .withColumn("z",
          (col("c").cast("double") - col("s1").cast("double") / col("n")) /
            col("stdc"))
        .groupBy("event_type")
        .agg(sum(when(abs(col("z")) > 1.5, 1L).otherwise(0L)).as("n_outliers"),
          max(round(abs(col("z")), 6)).as("max_abs_z"))
      stats.join(outl, "event_type")
        .select(col("event_type"), col("n"),
          round(col("s1").cast("double") / col("n") / lit(100.0), 6)
            .as("mean_value"),
          round(col("stdc") / lit(100.0), 6).as("std_value"),
          col("n_outliers"), col("max_abs_z"))
        .orderBy("event_type")
    }, Some("""WITH base AS (
        SELECT event_type, round(value * 100)::BIGINT AS c FROM events),
      stats AS (
        SELECT event_type, count(*)::BIGINT AS n, sum(c)::BIGINT AS s1,
          sum(c * c)::BIGINT AS s2
        FROM base GROUP BY 1
        HAVING count(*) > 1
           AND sum(c * c)::DOUBLE * count(*) > sum(c)::DOUBLE * sum(c)),
      st AS (
        SELECT *, sqrt((s2::DOUBLE * n - s1::DOUBLE * s1)
                       / (n::DOUBLE * (n - 1))) AS stdc
        FROM stats),
      z AS (
        SELECT base.event_type,
          (c::DOUBLE - s1::DOUBLE / n) / stdc AS z
        FROM base JOIN st USING (event_type)),
      outl AS (
        SELECT event_type,
          sum(CASE WHEN abs(z) > 1.5 THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
          max(round(abs(z), 6)) AS max_abs_z
        FROM z GROUP BY 1)
      SELECT st.event_type, n,
        round(s1::DOUBLE / n / 100.0, 6) AS mean_value,
        round(stdc / 100.0, 6) AS std_value,
        n_outliers, max_abs_z
      FROM st JOIN outl USING (event_type)
      ORDER BY 1"""))),

    // Fuzzy benchmark decontamination: the MinHash counterpart of the
    // exact 13-gram q_contamination gate — eval docs (doc_id % 10 = 0)
    // are the held-out benchmark, train docs probe the eval LSH band
    // table, candidates verify by exact 3-shingle Jaccard >= 0.3, and
    // each contaminated train doc reports its best-matching eval doc
    // (+ how many eval docs it collided with). Paraphrased/partial
    // benchmark copies that no exact n-gram join can see still land in
    // a shared band. Scale: identical shape to incremental near-dup —
    // the benchmark band table is tiny and broadcastable; train-side
    // cost is bands + one probe join; only matched candidates are ever
    // re-shingled.
    "q_decontam_fuzzy" -> (((s: SparkSession, dir: String) => {
      val docs = t(s, dir, "documents")
      val train = docs.where(col("doc_id") % 10 =!= 0)
      val eval = docs.where(col("doc_id") % 10 === 0)
      val hits = Dedup.incrementalNearDups(train, eval, threshold = 0.3,
        numPerms = 8, rowsPerBand = 2, shingleN = 3, maxBucket = 1000000)
      hits
        .withColumn("n_matches",
          count(lit(1)).over(Window.partitionBy("batch_id")))
        .withColumn("rn", row_number().over(Window.partitionBy("batch_id")
          .orderBy(col("jaccard").desc, col("hist_id"))))
        .where(col("rn") === 1)
        .select(col("batch_id").as("train_id"), col("hist_id").as("eval_id"),
          col("jaccard"), col("n_matches"))
        .orderBy("train_id")
    }, Some {
      s"""WITH $minhashCtes,
      cand AS (
        SELECT DISTINCT tr.doc_id AS train_id, ev.doc_id AS eval_id
        FROM bands tr JOIN bands ev
          ON tr.band = ev.band AND tr.bkey = ev.bkey
        WHERE tr.doc_id % 10 <> 0 AND ev.doc_id % 10 = 0),
      sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM shd GROUP BY 1),
      inter AS (
        SELECT c.train_id, c.eval_id, count(*)::BIGINT AS i
        FROM cand c
        JOIN shd a ON a.doc_id = c.train_id
        JOIN shd b ON b.doc_id = c.eval_id AND a.sh = b.sh
        GROUP BY 1, 2),
      j AS (
        SELECT c.train_id, c.eval_id,
          round(coalesce(i, 0)::DOUBLE
            / (sa.sz + sb.sz - coalesce(i, 0)), 6) AS jaccard
        FROM cand c
        LEFT JOIN inter USING (train_id, eval_id)
        JOIN sz sa ON sa.doc_id = c.train_id
        JOIN sz sb ON sb.doc_id = c.eval_id),
      f AS (SELECT * FROM j WHERE jaccard >= 0.3),
      r AS (
        SELECT train_id, eval_id, jaccard,
          count(*) OVER (PARTITION BY train_id)::BIGINT AS n_matches,
          row_number() OVER (PARTITION BY train_id
            ORDER BY jaccard DESC, eval_id) AS rn
        FROM f)
      SELECT train_id, eval_id, jaccard, n_matches
      FROM r WHERE rn = 1 ORDER BY train_id"""
    })),

    // The near-dup candidate-pair pass ENTIRELY in spark.sql (the
    // README's "near-dup from plain SQL"
    // claim, certified end-to-end): scalar LSH band keys → posexplode →
    // bucket self-join → distinct pairs → exact shingle-Jaccard verify,
    // one SQL string over registered graft_* functions. Arithmetic and
    // shape mirror Dedup.minhashCandidates + the incrementalNearDups
    // verify (explode + equi-join intersection counts — the scalable
    // form, never array_intersect per pair); the oracle replays it from
    // the SAME shared CTE fragments every other minhash row uses.
    // Honest cost note: Spark inlines WITH CTEs, so the SQL form
    // recomputes `bands`/`shd` per join side (plan read: 6 scans).
    // Fine for a certification row; the production near-dup path is the
    // checkpointed Column API (minhashCandidates / incrementalNearDups)
    // — this row certifies that the SQL surface REACHES those semantics,
    // not that SQL is the preferred way to run them at 100 TB.
    "q_sql_neardup" -> (((s: SparkSession, dir: String) => {
      graft.sql.GraftSql.register(s)
      t(s, dir, "documents").createOrReplaceTempView("nd_docs")
      s.sql("""WITH bands AS (
          SELECT doc_id, posexplode(graft_minhash_bands(text)) AS (band, bkey)
          FROM nd_docs),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
          WHERE a.doc_id < b.doc_id),
        shd AS (
          SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id, explode(graft_shingles(text)) AS sh FROM nd_docs)),
        sz AS (SELECT doc_id, count(1) AS sz FROM shd GROUP BY doc_id),
        inter AS (
          SELECT c.doc_a, c.doc_b, count(1) AS i
          FROM cand c
          JOIN shd a ON a.doc_id = c.doc_a
          JOIN shd b ON b.doc_id = c.doc_b AND a.sh = b.sh
          GROUP BY c.doc_a, c.doc_b),
        j AS (
          SELECT c.doc_a, c.doc_b,
            round(cast(coalesce(i, 0) AS double)
              / (sa.sz + sb.sz - coalesce(i, 0)), 6) AS jaccard
          FROM cand c
          LEFT JOIN inter ON inter.doc_a = c.doc_a AND inter.doc_b = c.doc_b
          JOIN sz sa ON sa.doc_id = c.doc_a
          JOIN sz sb ON sb.doc_id = c.doc_b)
        SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.5
        ORDER BY doc_a, doc_b""")
    }, Some(s"""WITH $minhashCtes,
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
        WHERE a.doc_id < b.doc_id),
      sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM shd GROUP BY 1),
      inter AS (
        SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS i
        FROM cand c
        JOIN shd a ON a.doc_id = c.doc_a
        JOIN shd b ON b.doc_id = c.doc_b AND a.sh = b.sh
        GROUP BY 1, 2),
      j AS (
        SELECT c.doc_a, c.doc_b,
          round(coalesce(i, 0)::DOUBLE / (sa.sz + sb.sz - coalesce(i, 0)), 6)
            AS jaccard
        FROM cand c
        LEFT JOIN inter USING (doc_a, doc_b)
        JOIN sz sa ON sa.doc_id = c.doc_a
        JOIN sz sb ON sb.doc_id = c.doc_b)
      SELECT doc_a, doc_b, jaccard FROM j
      WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b"""))),

    // Johnson–Lindenstrauss random projection (Achlioptas 2003 ±1
    // entries): 64-d embeddings sketched to 16-d via deterministic
    // md5-seeded sign matrices, then top-20 retrieval IN THE SKETCHED
    // space with the exact-space cosine alongside — the recall evidence
    // rides in the result. Scale: the projection is 16 codegen'd dot
    // products riding the scan (a 4× smaller index/shuffle payload for
    // any downstream ANN/dedup pass); no shuffle is introduced, and the
    // top-k stays TakeOrderedAndProject. Component sums round at 9 (the
    // meanPool/kmeans quantization trick) so the sketch — and therefore
    // the ranking — replays bit-identically on any engine.
    "q_proj_topk" -> (((s: SparkSession, dir: String) => {
      import graft.sim.Similarity
      val emb = t(s, dir, "embeddings")
      val projExpr = array((0 until 16).map { i =>
        round(Similarity.dot(col("embedding"),
          array(projSigns(i).map(lit): _*)), 9)
      }: _*)
      val proj = emb.select(col("vec_id"), projExpr.as("p"),
        col("embedding").cast("array<double>").as("e"))
      val q = proj.where(col("vec_id") === 0).head()
      val qp = q.getSeq[Double](1)
      val qe = q.getSeq[Double](2)
      proj.select(col("vec_id"),
          round(Similarity.cosine(col("p"), array(qp.map(lit): _*)), 6)
            .as("proj_sim"),
          round(Similarity.cosine(col("e"), array(qe.map(lit): _*)), 6)
            .as("exact_sim"))
        .orderBy(col("proj_sim").desc, col("vec_id"))
        .limit(20)
    }, Some {
      val planes = (0 until 16).map(i =>
        projSigns(i).map(v => if (v > 0) "1.0" else "-1.0")
          .mkString("[", ", ", "]"))
      val projList = planes.map(p =>
        s"round(list_dot_product(e, $p), 9)").mkString("[", ", ", "]")
      s"""WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
      p AS (SELECT vec_id, e, $projList AS p FROM base),
      q AS (SELECT e AS qe, p AS qp FROM p WHERE vec_id = 0)
      SELECT vec_id,
        round(list_dot_product(p.p, q.qp)
          / (sqrt(list_dot_product(p.p, p.p))
             * sqrt(list_dot_product(q.qp, q.qp))), 6) AS proj_sim,
        round(list_dot_product(p.e, q.qe)
          / (sqrt(list_dot_product(p.e, p.e))
             * sqrt(list_dot_product(q.qe, q.qe))), 6) AS exact_sim
      FROM p, q
      ORDER BY proj_sim DESC, vec_id LIMIT 20"""
    })),

    // Triangle participation over the near-dup candidate graph — the
    // standard density/cohesion diagnostic for dedup clusters (a doc in
    // many triangles sits in a tight boilerplate clique; a bridge doc in
    // none). Edges are the LSH candidate pairs (a < b); triangles come
    // from the edge-iterator join (paths a→b→c closed by the (a, c)
    // edge), each counted once under a < b < c. Scale: two equi-joins on
    // vertex keys; at adversarial degree skew the production refinement
    // is degree-ordering (orient edges low→high degree) which bounds
    // join fan-out by arboricity — id-ordering is its deterministic
    // stand-in here, and maxBucket already caps the LSH fan-in above.
    "q_triangles" -> (((s: SparkSession, dir: String) => {
      // truncated once: the edge frame feeds three join sides below, and
      // without the cut the banded candidate join replans per reference
      val e = graft.ops.Checkpoints.truncate(
        Dedup.minhashCandidates(t(s, dir, "documents"),
          numPerms = 8, rowsPerBand = 2, maxBucket = 1000000)
          .select(col("doc_a").as("a"), col("doc_b").as("b")))
      val paths = e.join(e.select(col("a").as("b"), col("b").as("c")), "b")
      val tri = paths.join(e.select(col("a"), col("b").as("c")), Seq("a", "c"))
        .select("a", "b", "c")
      tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
        .orderBy("doc_id")
    }, Some {
      s"""WITH $minhashCtes,
      edges AS (
        SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
        WHERE a.doc_id < b.doc_id),
      tri AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM edges e1
        JOIN edges e2 ON e1.dst = e2.src
        JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst),
      nodes AS (SELECT unnest([a, b, c]) AS doc_id FROM tri)
      SELECT doc_id, count(*)::BIGINT AS n_triangles
      FROM nodes GROUP BY 1 ORDER BY 1"""
    })),

    // Behavioral-sequence dataset build: sessionized per-user event
    // streams rendered as ordered event-type token sequences — the
    // "user history as a document" layout sequence-model training
    // consumes. Session assignment is the q_sessionize gap logic
    // (30-min); the sequence itself is an array_sort over
    // (sec, event_id, type) structs aggregated per session — a total
    // order, so the string replays on any engine/partitioning. Scale:
    // one user-keyed window + one (user, sess) agg; per-session state is
    // the session's OWN events (bounded by the gap rule), never the
    // user's full history.
    "q_session_seq" -> (((s: SparkSession, dir: String) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"),
        expr("ts_ns DIV 1000000000").as("sec"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
      ev.withColumn("gap", col("sec") - lag("sec", 1).over(w))
        .withColumn("is_new",
          when(col("gap").isNull || col("gap") > 1800, 1L).otherwise(0L))
        .withColumn("sess", sum("is_new").over(w))
        .groupBy("user_id", "sess")
        .agg(min("sec").as("session_start"), count(lit(1)).as("n_events"),
          array_join(transform(array_sort(collect_list(
            struct(col("sec"), col("event_id"), col("event_type")))),
            x => x.getField("event_type")), " ").as("seq"))
        .orderBy("user_id", "sess")
    }, Some("""WITH ev AS (
        SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS sec, event_type
        FROM events),
      g AS (
        SELECT *, sec - lag(sec) OVER (
          PARTITION BY user_id ORDER BY sec, event_id) AS gap
        FROM ev),
      sessed AS (
        SELECT user_id, event_id, sec, event_type,
          sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY sec, event_id)::BIGINT AS sess
        FROM g)
      SELECT user_id, sess, min(sec)::BIGINT AS session_start,
        count(*)::BIGINT AS n_events,
        string_agg(event_type, ' ' ORDER BY sec, event_id) AS seq
      FROM sessed GROUP BY 1, 2 ORDER BY 1, 2"""))),

    // Streaming percentiles via a mergeable fixed-bin histogram
    // (EventStreams.histogramCounts): per closed hourly window the
    // stream emits (bin, count) — O(bins) state per window regardless
    // of event volume — and the reader derives p50/p95 lower bounds
    // with pure integer math (first bin where 2·cum ≥ total /
    // 20·cum ≥ 19·total). The far-future sentinel closes trailing
    // windows; its own window is dropped by the max-real-hour gate.
    // Oracle = the identical histogram + derivation over the batch
    // table, so a dropped/doubled window emission or a bin-math drift
    // breaks the compare loudly.
    "q_stream_quantile" -> (((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.streaming.Trigger
      val stage = tmpDir("stream_quant_in", dir)
      val sink = tmpDir("stream_quant_out", dir)
      val ckpt = tmpDir("stream_quant_ckpt", dir)
      Seq(stage, sink, ckpt).foreach(rmrf)
      new java.io.File(stage).mkdirs()
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        java.nio.file.Paths.get(s"$stage/aa_events.parquet"))
      val raw = s.read.parquet(s"$dir/events.parquet")
      val maxNs = Tables.eventsTsRangeNs(raw)._2
      val sentinelTmp = tmpDir("stream_quant_sentinel", dir)
      raw.limit(1)
        .withColumn("ts",
          Tables.tsLitAsRaw(raw, maxNs + 30L * 86400 * 1000000000L))
        .withColumn("event_type", lit("sentinel"))
        .coalesce(1).write.mode("overwrite").parquet(sentinelTmp)
      val part = new java.io.File(sentinelTmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$stage/zz_sentinel.parquet"))
      val stream = graft.streaming.EventStreams.readEvents(s, stage, "*.parquet")
      // floor, not DIV: Spark's DIV truncates toward zero while the
      // oracle's // floors — identical on this data (values > 0) but
      // floor keeps the bin math engine-consistent for any sign
      val es = graft.streaming.EventStreams
      es.withStagedState(s, stage) {
        val q = es.histogramCounts(stream,
            floor(round(col("value") * 100) / lit(2500.0)).cast("long"))
          .writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        ExtraQueries.awaitBounded(q)
      }
      // drop the sentinel's own far-future window, then exactly-once fold
      val maxHourSec = maxNs / 1000000000L / 3600L * 3600L
      val hist = s.read.parquet(sink)
        .where(col("hour") <= timestamp_seconds(lit(maxHourSec)))
        .groupBy("hour", "bin").agg(sum("cnt").as("cnt"))
      val wCum = Window.partitionBy("hour").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist
        .withColumn("cum", sum("cnt").over(wCum))
        .withColumn("total", sum("cnt").over(Window.partitionBy("hour")))
        .groupBy(date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"))
        .agg(max("total").as("n"),
          (min(when(col("cum") * 2 >= col("total"), col("bin"))) * 2500L)
            .as("p50_lo_cents"),
          (min(when(col("cum") * 20 >= col("total") * 19, col("bin"))) * 2500L)
            .as("p95_lo_cents"))
        .orderBy("hour")
    }, Some("""WITH h AS (
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
          round(value * 100)::BIGINT // 2500 AS bin, count(*)::BIGINT AS cnt
        FROM events GROUP BY 1, 2),
      c AS (
        SELECT hour, bin, cnt,
          sum(cnt) OVER (PARTITION BY hour ORDER BY bin)::BIGINT AS cum,
          sum(cnt) OVER (PARTITION BY hour)::BIGINT AS total
        FROM h)
      SELECT hour, max(total)::BIGINT AS n,
        (min(CASE WHEN cum * 2 >= total THEN bin END) * 2500)::BIGINT
          AS p50_lo_cents,
        (min(CASE WHEN cum * 20 >= total * 19 THEN bin END) * 2500)::BIGINT
          AS p95_lo_cents
      FROM c GROUP BY 1 ORDER BY 1"""))),

    // Per-source language-mix drift: KL(P_source || P_corpus) over the
    // language distribution — the data-mix monitor that catches one
    // crawl source silently flipping language composition. Every count
    // is exact; each (source, lang) term rounds at 9 before the
    // per-source sum rounds at 6 (the perplexity-filter discipline).
    // Scale: three map-side-combined count aggs; the lang and corpus
    // totals are |langs|-row / 1-row broadcasts; nothing scales beyond
    // |sources| × |langs| rows after the first agg.
    "q_source_kl" -> (((s: SparkSession, dir: String) => {
      val d = t(s, dir, "documents").select("source", "lang")
      val sl = d.groupBy("source", "lang").agg(count(lit(1)).as("n_sl"))
      val srcTot = sl.groupBy("source").agg(sum("n_sl").as("n_s"))
      val langTot = sl.groupBy("lang").agg(sum("n_sl").as("n_l"))
      val tot = sl.agg(sum("n_sl").as("n"))
      sl.join(srcTot, "source").join(broadcast(langTot), "lang")
        .crossJoin(broadcast(tot))
        .withColumn("term", round(
          (col("n_sl").cast("double") / col("n_s")) *
            log((col("n_sl").cast("double") * col("n")) /
                (col("n_s").cast("double") * col("n_l"))), 9))
        .groupBy("source")
        .agg(max("n_s").as("n_docs"), round(sum("term"), 6).as("kl"))
        .orderBy("source")
    }, Some("""WITH sl AS (
        SELECT source, lang, count(*)::BIGINT AS n_sl
        FROM documents GROUP BY 1, 2),
      st AS (SELECT source, sum(n_sl)::BIGINT AS n_s FROM sl GROUP BY 1),
      lt AS (SELECT lang, sum(n_sl)::BIGINT AS n_l FROM sl GROUP BY 1),
      tt AS (SELECT sum(n_sl)::BIGINT AS n FROM sl),
      terms AS (
        SELECT sl.source,
          st.n_s,
          round((n_sl::DOUBLE / n_s) *
            ln((n_sl::DOUBLE * n) / (n_s::DOUBLE * n_l)), 9) AS term
        FROM sl JOIN st USING (source) JOIN lt USING (lang), tt)
      SELECT source, max(n_s)::BIGINT AS n_docs, round(sum(term), 6) AS kl
      FROM terms GROUP BY 1 ORDER BY 1"""))),

    // N-gram novelty curve — the "is more data still worth ingesting"
    // diagnostic: corpus in doc_id order, bucketed 50 docs at a time;
    // per bucket, how many DISTINCT 3-shingles appear for the first
    // time there, plus the cumulative vocabulary. A flattening curve
    // means new shards add mostly seen n-grams (diminishing returns —
    // the dedup/selection knobs matter more than more ingest). Scale:
    // one shuffle keyed on the 16-byte shingle md5 with a map-side
    // combinable min; output is |buckets| rows; the cumulative window
    // runs over those rows only.
    "q_novelty_curve" -> (((s: SparkSession, dir: String) => {
      val firstSeen = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(Dedup.shingles(col("text"), 3))).as("sh"))
        .groupBy(md5(col("sh")).as("h")).agg(min("doc_id").as("first_doc"))
      val perBucket = firstSeen
        .groupBy(expr("first_doc DIV 50").as("bucket"))
        .agg(count(lit(1)).as("new_shingles"))
      perBucket
        .withColumn("cum_shingles", sum("new_shingles").over(
          Window.orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy("bucket")
    }, Some("""WITH tk AS (
        SELECT doc_id, list_filter(string_split(text, ' '),
          x -> len(x) > 0) AS tk
        FROM documents),
      shl AS (
        SELECT doc_id, unnest(list_transform(range(greatest(len(tk) - 2, 1)),
          i -> array_to_string(list_slice(tk, i + 1, i + 3), ' '))) AS sh
        FROM tk),
      fs AS (
        SELECT md5(sh) AS h, min(doc_id)::BIGINT AS first_doc
        FROM (SELECT DISTINCT doc_id, sh FROM shl) GROUP BY 1),
      pb AS (
        SELECT first_doc // 50 AS bucket, count(*)::BIGINT AS new_shingles
        FROM fs GROUP BY 1)
      SELECT bucket, new_shingles,
        sum(new_shingles) OVER (ORDER BY bucket)::BIGINT AS cum_shingles
      FROM pb ORDER BY bucket"""))),

    // Substring TRIM — the transformation q_substring_dedup only flags:
    // disjoint 40-char windows whose hash appears in ≥2 docs are CUT
    // and the doc reassembled from the kept segments + the sub-window
    // tail (the ExactSubstr removal step of Lee et al. 2022, on
    // stride = winLen so the surgery is unambiguous). Scale: windows
    // ride the scan; one 16-byte-hash groupBy finds shared windows; the
    // reassembly aggregates each doc's OWN segments (array_sort over a
    // total order) — never doc pairs, never a corpus-wide sort.
    "q_substring_trim" -> (((s: SparkSession, dir: String) => {
      Dedup.substringTrim(t(s, dir, "documents").select("doc_id", "text"),
        winLen = 40).orderBy("doc_id")
    }, Some("""WITH wins AS (
        SELECT doc_id, i, substr(text, i, 40) AS seg,
          ('0x' || substr(md5(substr(text, i, 40)), 1, 15))::BIGINT AS h
        FROM (SELECT doc_id, text, unnest(range(1, len(text) - 38, 40)) AS i
              FROM documents WHERE len(text) >= 40)),
      dup AS (
        SELECT h FROM (
          SELECT h, count(DISTINCT doc_id) AS nd FROM wins GROUP BY 1)
        WHERE nd > 1),
      body AS (
        SELECT doc_id, count(*)::BIGINT AS kept_windows,
          string_agg(seg, '' ORDER BY i) AS body
        FROM wins WHERE h NOT IN (SELECT h FROM dup)
        GROUP BY 1),
      res AS (
        SELECT d.doc_id,
          CASE WHEN len(text) >= 40 THEN len(text) // 40 ELSE 0 END::BIGINT
            AS n_windows,
          CASE WHEN len(text) >= 40 THEN len(text) // 40 ELSE 0 END::BIGINT
            - coalesce(kept_windows, 0) AS dropped_windows,
          CASE WHEN len(text) >= 40
            THEN coalesce(body, '') || substr(text, (len(text) // 40) * 40 + 1)
            ELSE text END AS trimmed
        FROM documents d LEFT JOIN body USING (doc_id))
      SELECT doc_id, n_windows, dropped_windows, trimmed,
        len(trimmed)::BIGINT AS trimmed_len
      FROM res ORDER BY doc_id"""))),

    // ALIGNMENT-ROBUST substring trim: detection at stride 1 (a window
    // hash at every char position), so a span copied at ANY offset
    // shift is caught — the recall hole q_substring_trim's
    // stride-aligned windows have (a copy shifted by a non-multiple of
    // the stride produces zero matching hashes; DedupSpec measures
    // recall 1/stride on planted shifted duplicates). Flagged positions
    // map onto the same disjoint cut segments; the oracle replays the
    // stride-1 detection, the segment overlap mapping, and the
    // reassembly independently.
    "q_substring_trim_exact" -> (((s: SparkSession, dir: String) => {
      Dedup.substringTrimExact(t(s, dir, "documents").select("doc_id", "text"),
        winLen = 40).orderBy("doc_id")
    }, Some("""WITH w1 AS (
        SELECT doc_id, i, ('0x' || substr(md5(substr(text, i, 40)), 1, 15))::BIGINT AS h
        FROM (SELECT doc_id, text, unnest(range(1, len(text) - 38, 1)) AS i
              FROM documents WHERE len(text) >= 40)),
      dup AS (
        SELECT h FROM (
          SELECT h, count(DISTINCT doc_id) AS nd FROM w1 GROUP BY 1)
        WHERE nd > 1),
      cut AS (
        SELECT DISTINCT doc_id, s FROM (
          SELECT doc_id, unnest(range((i - 1) // 40, (i + 38) // 40 + 1)) AS s
          FROM w1 WHERE h IN (SELECT h FROM dup))),
      wins AS (
        SELECT doc_id, i, (i - 1) // 40 AS s, substr(text, i, 40) AS seg
        FROM (SELECT doc_id, text, unnest(range(1, len(text) - 38, 40)) AS i
              FROM documents WHERE len(text) >= 40)),
      body AS (
        SELECT w.doc_id, count(*)::BIGINT AS kept_windows,
          string_agg(seg, '' ORDER BY i) AS body
        FROM wins w LEFT JOIN cut ON w.doc_id = cut.doc_id AND w.s = cut.s
        WHERE cut.s IS NULL
        GROUP BY 1),
      res AS (
        SELECT d.doc_id,
          CASE WHEN len(text) >= 40 THEN len(text) // 40 ELSE 0 END::BIGINT
            AS n_windows,
          CASE WHEN len(text) >= 40 THEN len(text) // 40 ELSE 0 END::BIGINT
            - coalesce(kept_windows, 0) AS dropped_windows,
          CASE WHEN len(text) >= 40
            THEN coalesce(body, '') || substr(text, (len(text) // 40) * 40 + 1)
            ELSE text END AS trimmed
        FROM documents d LEFT JOIN body USING (doc_id))
      SELECT doc_id, n_windows, dropped_windows, trimmed,
        len(trimmed)::BIGINT AS trimmed_len
      FROM res ORDER BY doc_id"""))),

    // IVFPQ + exact refine — the standard two-stage production
    // retrieval: the compressed index proposes 50 candidates by ADC
    // (probing 2 cells), then ONLY those 50 are re-ranked by exact
    // cosine against full-precision vectors. Scale: the refine join
    // touches k rows, not the corpus — the expensive exact math is
    // bounded by the candidate budget regardless of index size, which
    // is why reconstruction error (q_pq_reconstruct) never has to reach
    // the final ranking.
    "q_ivfpq_refine" -> (((s: SparkSession, dir: String) => {
      import graft.sim.{Pq, Similarity}
      val emb = t(s, dir, "embeddings")
      val centroids = emb.where(col("vec_id") < 8)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0).toInt,
          r.getSeq[Float](1).map(_.toDouble).toSeq)).toSeq
      val books = Pq.seedCodebooks(emb, m = 8, ksub = 16)
      val qvec = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      val index = Similarity.buildIvfIndex(emb, centroids)
      val coarse = Pq.ivfAdcTopK(index, centroids, books, qvec,
        k = 50, nprobe = 2)
      coarse.join(emb, "vec_id")
        .select(col("vec_id"), col("adc_dot"),
          round(Similarity.cosine(col("embedding").cast("array<double>"),
            array(qvec.map(lit): _*)), 6).as("exact_cos"))
        .orderBy(col("exact_cos").desc, col("vec_id"))
        .limit(10)
    }, Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
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
        coarse AS (
          SELECT best.vec_id, round(sum(tabs.pd ORDER BY tabs.mi), 6) AS adc_dot
          FROM best JOIN tabs ON best.mi = tabs.mi AND best.code = tabs.code
          GROUP BY best.vec_id
          ORDER BY adc_dot DESC, best.vec_id LIMIT 50)
        SELECT coarse.vec_id, coarse.adc_dot,
          round(list_dot_product(e.v, q.qv)
            / (sqrt(list_dot_product(e.v, e.v))
               * sqrt(list_dot_product(q.qv, q.qv))), 6) AS exact_cos
        FROM coarse JOIN e ON coarse.vec_id = e.vec_id, q
        ORDER BY exact_cos DESC, coarse.vec_id LIMIT 10"""))),

    // Weighted sampling WITHOUT replacement (Efraimidis–Spirakis 2006
    // A-ES): 5 docs per source drawn with probability ∝ n_chars, via
    // the deterministic priority key ln(u)/w (u from the md5 [0,1)
    // hash, shifted off zero; larger weight → key closer to 0 → higher
    // rank). One window per source — and Spark's WindowGroupLimit
    // bounds it map-side, so each input partition ships ≤5 rows per
    // source to the shuffle, the same plan shape q_domain_cap measured
    // 2× over the salted form (d15). Keys round at 9 before ranking so
    // the order replays across libms.
    "q_weighted_sample" -> (((s: SparkSession, dir: String) => {
      val d = t(s, dir, "documents").select("doc_id", "source", "n_chars")
      val u = graft.ops.Sampling.hash01Centered(col("doc_id"))
      val key = round(log(u) / col("n_chars"), 9)
      val w = Window.partitionBy("source")
        .orderBy(col("key").desc, col("doc_id"))
      d.withColumn("key", key)
        .withColumn("rn", row_number().over(w)).where(col("rn") <= 5)
        .select(col("source"), col("doc_id"), col("n_chars"), col("key"))
        .orderBy("source", "doc_id")
    }, Some("""WITH d AS (
        SELECT doc_id, source, n_chars,
          round(ln((('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT + 0.5)
                   / 4294967296.0) / n_chars, 9) AS key
        FROM documents),
      r AS (
        SELECT *, row_number() OVER (
          PARTITION BY source ORDER BY key DESC, doc_id) AS rn
        FROM d)
      SELECT source, doc_id, n_chars, key
      FROM r WHERE rn <= 5 ORDER BY source, doc_id"""))),

    // Event-type transition matrix over per-user ordered histories —
    // the bigram model of behavioral sequences (the q_session_seq
    // corpus viewed as a Markov chain). One user-keyed window produces
    // the (prev → next) pairs; counts and row-normalized probabilities
    // are |types|² rows. Scale: the window partitions by user (no
    // global sort), the count agg is map-side combinable, and the
    // normalization joins a |types|-row broadcast.
    "q_event_transitions" -> (((s: SparkSession, dir: String) => {
      // order on µs, not raw ts_ns: the oracle orders by epoch_us(ts),
      // and on the TIMESTAMP(NANOS) testdata vintage sub-µs precision
      // would break ties differently than the µs+event_id order
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"),
        expr("ts_ns DIV 1000").as("ts_us"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val pairs = ev.withColumn("prev_type", lag("event_type", 1).over(w))
        .where(col("prev_type").isNotNull)
      val cnt = pairs.groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("cnt"))
      val rowTot = cnt.groupBy("prev_type").agg(sum("cnt").as("row_total"))
      cnt.join(broadcast(rowTot), "prev_type")
        .select(col("prev_type"), col("next_type"), col("cnt"),
          round(col("cnt").cast("double") / col("row_total"), 6).as("prob"))
        .orderBy("prev_type", "next_type")
    }, Some("""WITH ordered AS (
        SELECT event_type,
          lag(event_type) OVER (
            PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type
        FROM events),
      cnt AS (
        SELECT prev_type, event_type AS next_type, count(*)::BIGINT AS cnt
        FROM ordered WHERE prev_type IS NOT NULL
        GROUP BY 1, 2),
      rt AS (SELECT prev_type, sum(cnt)::BIGINT AS row_total FROM cnt GROUP BY 1)
      SELECT cnt.prev_type, next_type, cnt,
        round(cnt::DOUBLE / row_total, 6) AS prob
      FROM cnt JOIN rt USING (prev_type)
      ORDER BY 1, 2"""))),

    // Language-ID confusion matrix against the labeled lang column —
    // the classifier-health eval a curation pipeline runs before
    // trusting langId gates: (labeled, predicted, cnt) cells expose
    // exactly which languages leak into which buckets (here: zh has no
    // stopword list, so its row lands in 'und' — a visible, honest
    // blind spot, not a silent one). Scale: the classifier is a pure
    // codegen'd Column; the matrix is a |langs|² count agg.
    "q_lang_confusion" -> (((s: SparkSession, dir: String) => {
      t(s, dir, "documents")
        .select(col("lang").as("labeled"),
          graft.text.TextAnalysis.langId(col("text")).as("predicted"))
        .groupBy("labeled", "predicted").agg(count(lit(1)).as("cnt"))
        .orderBy("labeled", "predicted")
    }, Some {
      import graft.text.TextAnalysis
      val langs = TextAnalysis.stopwords.keys.toSeq.sorted
      def hits(l: String) = {
        val words = TextAnalysis.stopwords(l).map(w => s"'$w'").mkString(", ")
        s"len(list_filter(list_filter(string_split(lower(text), ' '), x -> len(x) > 0), t -> list_contains([$words], t)))"
      }
      val scores = langs.map(l => s"${hits(l)} AS s_$l").mkString(", ")
      val best = "greatest(" + langs.map(l => s"s_$l").mkString(", ") + ")"
      val cases = langs.map(l => s"WHEN best > 0 AND s_$l = best THEN '$l'")
        .mkString(" ")
      s"""WITH sc AS (SELECT doc_id, lang, $scores FROM documents),
        b AS (SELECT doc_id, lang, ${langs.map(l => s"s_$l").mkString(", ")},
                $best AS best FROM sc),
        p AS (SELECT lang AS labeled,
                CASE $cases ELSE 'und' END AS predicted FROM b)
        SELECT labeled, predicted, count(*)::BIGINT AS cnt
        FROM p GROUP BY 1, 2 ORDER BY 1, 2"""
    })),

    // Jaccard + directional containment over the LSH candidate pairs —
    // the asymmetric dedup gate: a small doc quoted whole inside a big
    // one scores low Jaccard but containment ≈ 1, so recipes gate on
    // max(containment) alongside Jaccard. Measures share one overlap
    // pipeline (Dedup.ngramContainment).
    "q_minhash_containment" -> (((s: SparkSession, dir: String) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashCandidates(docs,
        numPerms = 8, rowsPerBand = 2, maxBucket = 1000000)
      Dedup.ngramContainment(docs, pairs).orderBy("doc_a", "doc_b")
    }, Some {
      s"""WITH $minhashCtes,
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
        WHERE a.doc_id < b.doc_id),
      sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM shd GROUP BY 1),
      inter AS (
        SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS i
        FROM cand c
        JOIN shd x ON x.doc_id = c.doc_a
        JOIN shd y ON y.doc_id = c.doc_b AND x.sh = y.sh
        GROUP BY 1, 2)
      SELECT c.doc_a, c.doc_b,
        round(coalesce(i, 0)::DOUBLE
          / (sa.sz + sb.sz - coalesce(i, 0)), 6) AS jaccard,
        round(coalesce(i, 0)::DOUBLE / sa.sz, 6) AS cont_a_in_b,
        round(coalesce(i, 0)::DOUBLE / sb.sz, 6) AS cont_b_in_a
      FROM cand c
      LEFT JOIN inter USING (doc_a, doc_b)
      JOIN sz sa ON sa.doc_id = c.doc_a
      JOIN sz sb ON sb.doc_id = c.doc_b
      ORDER BY 1, 2"""
    })),

    // Tokenizer-vocabulary coverage: per-doc out-of-vocabulary fraction
    // against the corpus top-10 vocabulary — the tokenizer-health metric
    // (a vocab too small for the corpus shows up as a fat OOV tail
    // BEFORE a training run wastes compute on <unk> soup). Scale: the
    // vocabulary is a TakeOrderedAndProject over the word counts (k
    // rows, broadcast back); the OOV decision rides the token scan.
    "q_vocab_coverage" -> (((s: SparkSession, dir: String) => {
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) > 0)
      val vocab = tok.groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(10)
        .select(col("w"), lit(1).as("_in"))
      tok.join(broadcast(vocab), Seq("w"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("_in").isNull, 1L).otherwise(0L)).as("oov_tokens"))
        .withColumn("oov_frac",
          round(col("oov_tokens").cast("double") / col("n_tokens"), 6))
        .orderBy("doc_id")
    }, Some("""WITH tok AS (
        SELECT doc_id, w FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE len(w) > 0),
      vocab AS (
        SELECT w FROM (
          SELECT w, count(*)::BIGINT AS c FROM tok GROUP BY 1
          ORDER BY c DESC, w LIMIT 10)),
      flag AS (
        SELECT doc_id, (vocab.w IS NULL)::INT AS oov
        FROM tok LEFT JOIN vocab USING (w))
      SELECT doc_id, count(*)::BIGINT AS n_tokens,
        sum(oov)::BIGINT AS oov_tokens,
        round(sum(oov)::DOUBLE / count(*), 6) AS oov_frac
      FROM flag GROUP BY 1 ORDER BY 1"""))),

    // Per-doc unigram Shannon entropy — the repetitiveness signal
    // orthogonal to the Gopher n-gram fractions: a doc cycling a tiny
    // vocabulary scores low even when no single n-gram dominates.
    // Oracle replays the exact H = log2(n) − (Σ c·log2 c)/n form with
    // the same per-term 1e-9-integer quantization (BIGINT sum, so the
    // cross-row total is partition-order-free) / final round-6. Scale: two
    // map-side-combined aggregates, no join — see
    // TextAnalysis.unigramEntropy.
    "q_doc_entropy" -> (((s: SparkSession, dir: String) => {
      graft.text.TextAnalysis.unigramEntropy(t(s, dir, "documents"))
        .orderBy("doc_id")
    }, Some("""WITH tok AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '),
          x -> len(x) > 0)) AS term
        FROM documents),
      c AS (SELECT doc_id, term, count(*)::BIGINT AS c FROM tok GROUP BY 1, 2)
      SELECT doc_id, sum(c)::BIGINT AS n_tokens,
        count(*)::BIGINT AS n_distinct,
        round(log2(sum(c)) - (sum(round(c * log2(c) * 1e9, 0)::BIGINT) / 1e9)
                             / sum(c), 6) AS entropy
      FROM c GROUP BY 1 ORDER BY 1"""))),

    // Sequence-length bucketing + padding-waste audit: docs land in the
    // smallest power-of-two rung ≥ token count (overflow clamps to the
    // top rung), per rung the report gives docs/real tokens/pad tokens
    // and the fraction of fixed-shape batch compute burned on pad.
    // All-integer until the one final ratio. Scale: scan-side when-chain
    // + a |ladder|-row aggregate — see TextAnalysis.lengthBuckets.
    "q_length_buckets" -> (((s: SparkSession, dir: String) => {
      graft.text.TextAnalysis.lengthBuckets(t(s, dir, "documents"))
        .orderBy("bucket")
    }, Some("""WITH tok AS (
        SELECT doc_id, len(list_filter(string_split(text, ' '),
          x -> len(x) > 0))::BIGINT AS n
        FROM documents),
      b AS (
        SELECT doc_id, n,
          (CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
                WHEN n <= 64 THEN 64 WHEN n <= 128 THEN 128
                WHEN n <= 256 THEN 256 ELSE 512 END)::BIGINT AS bucket
        FROM tok)
      SELECT bucket, count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS n_tokens,
        sum(bucket - least(n, bucket))::BIGINT AS pad_tokens,
        round(sum(bucket - least(n, bucket))::DOUBLE
          / (count(*) * bucket), 6) AS pad_frac
      FROM b GROUP BY 1 ORDER BY 1"""))),

    // FastText-style hashed-feature Naive Bayes language classifier
    // (Joulin et al. 2016 + the Weinberger hashing trick): md5 token
    // buckets → closed-form multinomial NB weights → per-doc argmax.
    // The oracle replays priors, smoothed bucket weights, the
    // unseen-bucket default, and the round-6-before-argmax window
    // verbatim. Scale: the model is ≤ nBuckets·|classes| rows BY
    // CONSTRUCTION (broadcast); the corpus never shuffles on a
    // vocabulary key — see text/Classifier.nbPredict.
    "q_nb_lang" -> (((s: SparkSession, dir: String) => {
      graft.text.Classifier.nbPredict(t(s, dir, "documents"))
        .orderBy("doc_id")
    }, Some(nbOracle + " SELECT doc_id, lang, pred, score FROM win WHERE rn = 1 ORDER BY doc_id"))),

    // Confusion matrix of the NB classifier against the true labels —
    // the evaluation row a labeling pass ships with (compare with
    // q_lang_confusion, the stopword heuristic's matrix: the learned
    // model also covers zh, which has no stopword list).
    "q_nb_confusion" -> (((s: SparkSession, dir: String) => {
      graft.text.Classifier.nbPredict(t(s, dir, "documents"))
        .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred")
    }, Some(nbOracle +
      """ SELECT lang, pred, count(*)::BIGINT AS n FROM win
      WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2"""))),

    // Confidence-margin gate over the NB predictions — the
    // self-training / auto-labeling filter (keep a machine label only
    // when best − runner-up ≥ τ nats). Margin is a difference of two
    // round-6 scores that are themselves exact-integer-derived, so it
    // is bit-stable on any engine. A mono-label corpus has no
    // runner-up: margin saturates to the 1e6-nat SoloMargin sentinel
    // (mirrored in the oracle's coalesce) instead of going NULL. Same
    // plan as q_nb_lang plus one lead over the already-present ranking
    // window — no extra shuffle.
    "q_nb_margin" -> (((s: SparkSession, dir: String) => {
      graft.text.Classifier.nbMargin(t(s, dir, "documents"))
        .orderBy("doc_id")
    }, Some(nbOracle +
      """ SELECT doc_id, lang, pred, score,
        round(coalesce(score - nxt, 1000000.0), 6) AS margin,
        (round(coalesce(score - nxt, 1000000.0), 6) >= 2.0) AS confident
      FROM win WHERE rn = 1 ORDER BY doc_id"""))),

    // Reliability curve: accuracy per integer margin bin (top bin
    // collects the saturated tail) — the artifact that decides where
    // the q_nb_margin threshold sits. Metadata-sized output.
    "q_nb_calibration" -> (((s: SparkSession, dir: String) => {
      graft.text.Classifier.nbCalibration(t(s, dir, "documents"))
        .orderBy("margin_bin")
    }, Some(nbOracle +
      """ SELECT least(floor(round(coalesce(score - nxt, 1000000.0), 6)),
          20.0)::BIGINT AS margin_bin,
        count(*)::BIGINT AS n_docs,
        sum(CASE WHEN pred = lang THEN 1 ELSE 0 END)::BIGINT AS n_correct,
        round(sum(CASE WHEN pred = lang THEN 1 ELSE 0 END)::DOUBLE
          / count(*), 6) AS accuracy
      FROM win WHERE rn = 1 GROUP BY 1 ORDER BY 1"""))),

    // Hard-negative mining (DPR/SimCSE recipe): for each anchor vector
    // (every 50th), the 5 most cosine-similar vectors with a DIFFERENT
    // label, from one LSH-bucket equi-join with the label-inequality
    // predicate riding the join. The oracle replays the identical
    // md5-seeded hyperplanes on both sides — same plane family as
    // q_ann_batch (table 0, seeds "h<b>|<j>").
    "q_hard_negatives" -> (((s: SparkSession, dir: String) => {
      val emb = t(s, dir, "embeddings")
      val anchors = emb.where(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("query_id"), col("label"), col("embedding"))
      graft.sim.Similarity.hardNegatives(emb, anchors, k = 5, dim = 64, nBits = 4)
        .orderBy("query_id", "vec_id")
    }, Some {
      val bucket = lshBucketSql(4)
      s"""WITH idx AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS e, $bucket AS bucket
        FROM embeddings),
      a AS (SELECT vec_id AS query_id, label AS alabel, e, bucket
            FROM idx WHERE vec_id % 25 = 0),
      cand AS (
        SELECT a.query_id, i.vec_id, i.label AS neg_label,
          round(list_dot_product(i.e, a.e)
            / (sqrt(list_dot_product(i.e, i.e)) * sqrt(list_dot_product(a.e, a.e))), 6) AS cosine_sim
        FROM idx i JOIN a ON i.bucket = a.bucket
        WHERE i.label <> a.alabel)
      SELECT query_id, vec_id, neg_label, cosine_sim FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id) AS rn
        FROM cand)
      WHERE rn <= 5 ORDER BY query_id, vec_id"""
    })),

    // Cross-source near-dup leakage matrix: MinHash/LSH candidate pairs
    // rolled up into unordered source×source counts — the pre-mixing
    // audit of how much of each source already circulates in the others
    // (diagonal = within-source duplication). Metadata-sized output; the
    // oracle replays the shared MinHash CTE chain and the same
    // least/greatest pair normalization.
    "q_cross_source_dups" -> (((s: SparkSession, dir: String) => {
      Dedup.crossSourceDupMatrix(t(s, dir, "documents"))
        .orderBy("source_a", "source_b")
    }, Some(s"""WITH $minhashCtes,
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
        WHERE a.doc_id < b.doc_id)
      SELECT least(da.source, db.source) AS source_a,
        greatest(da.source, db.source) AS source_b,
        count(*)::BIGINT AS n_pairs
      FROM cand
      JOIN documents da ON cand.doc_a = da.doc_id
      JOIN documents db ON cand.doc_b = db.doc_id
      GROUP BY 1, 2 ORDER BY 1, 2"""))),

    // Zipf-law fit per language: OLS of ln(count) on ln(rank) over the
    // frequency-ranked vocabulary (slope ≈ −1 for natural text; flat =
    // synthetic/templated, cliff = boilerplate). Logs quantized to 1e-9
    // integers and moments summed in exact decimal/HUGEINT so both
    // engines reduce identical integers; doubles only in the final
    // ratios with identical association.
    "q_zipf_fit" -> (((s: SparkSession, dir: String) => {
      graft.text.TextAnalysis.zipfFit(t(s, dir, "documents")).orderBy("lang")
    }, Some(s"""WITH $termCountCtes,
      q AS (SELECT lang, round(ln(r::DOUBLE) * 1e9)::HUGEINT AS x,
              round(ln(c::DOUBLE) * 1e9)::HUGEINT AS y FROM rk),
      a AS (SELECT lang, count(*)::HUGEINT AS n, sum(x) AS sx, sum(y) AS sy,
              sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy
            FROM q GROUP BY 1 HAVING count(*) > 1)
      SELECT lang, n::BIGINT AS n_terms,
        round((n*sxy - sx*sy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE, 6) AS slope,
        round((sy::DOUBLE
            - ((n*sxy - sx*sy)::DOUBLE / (n*sxx - sx*sx)::DOUBLE) * sx::DOUBLE)
          / n::DOUBLE / 1e9, 6) AS intercept,
        CASE WHEN n*syy - sy*sy = 0 THEN 0.0
          ELSE round(((n*sxy - sx*sy)::DOUBLE * (n*sxy - sx*sy)::DOUBLE)
            / ((n*sxx - sx*sx)::DOUBLE * (n*syy - sy*sy)::DOUBLE), 6) END AS r2
      FROM a ORDER BY lang"""))),

    // Gini coefficient of token usage per language — the
    // inequality/diversity audit (0 = uniform, →1 = few tokens
    // dominate). Closed form over ascending-ranked counts keeps every
    // term an exact integer until the final ratio.
    "q_token_gini" -> (((s: SparkSession, dir: String) => {
      graft.text.TextAnalysis.tokenGini(t(s, dir, "documents")).orderBy("lang")
    }, Some(s"""WITH $termCountCtes,
      g AS (SELECT lang, c,
              row_number() OVER (PARTITION BY lang ORDER BY c ASC, term) AS i
            FROM cnt),
      a AS (SELECT lang, count(*)::HUGEINT AS n, sum(c::HUGEINT) AS s,
              sum(i::HUGEINT * c::HUGEINT) AS sic
            FROM g GROUP BY 1)
      SELECT lang, n::BIGINT AS n_terms,
        round((2*sic - (n+1)*s)::DOUBLE / (n*s)::DOUBLE, 6) AS gini
      FROM a ORDER BY lang"""))),

    // Exact interpolated length quantiles per language (percentile_cont
    // definition) through the distributed GlobalRank total order — the
    // length-distribution audit read before fixing packing block sizes.
    // The oracle replays position arithmetic and interpolation verbatim
    // over a per-language row_number (values at a sorted position are
    // tie-permutation invariant, so the two rankings agree).
    "q_length_quantiles" -> (((s: SparkSession, dir: String) => {
      graft.ops.GlobalRank.interpolatedQuantiles(
        t(s, dir, "documents"), Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99),
        group = "lang", value = "n_chars", id = "doc_id")
        .orderBy("lang", "p")
    }, Some("""WITH ranked AS (
        SELECT lang, n_chars::DOUBLE AS v,
          row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS idx
        FROM documents),
      np AS (SELECT lang, max(idx) AS n FROM ranked GROUP BY 1),
      ps AS (SELECT unnest([0.1, 0.25, 0.5, 0.75, 0.9, 0.99]) AS p),
      tgt AS (SELECT lang, p, p * (n - 1)::DOUBLE AS pos,
          floor(p * (n - 1)::DOUBLE)::BIGINT + 1 AS lo,
          ceil(p * (n - 1)::DOUBLE)::BIGINT + 1 AS hi
        FROM np CROSS JOIN ps)
      SELECT t.lang, t.p,
        round(rl.v + (t.pos - floor(t.pos)) * (rh.v - rl.v), 6) AS quantile
      FROM tgt t
      JOIN ranked rl ON rl.lang = t.lang AND rl.idx = t.lo
      JOIN ranked rh ON rh.lang = t.lang AND rh.idx = t.hi
      ORDER BY t.lang, t.p"""))),

    // Token-budget corpus selection: the best 75k chars of the corpus —
    // greedy by quality score through one distributed exclusive prefix
    // sum over the (quality desc, doc_id) total order, then a pure
    // per-row fit test. The oracle replays the same cumulative-fit rule
    // with a window prefix sum over the SHARED quality fragment
    // (Queries.qualityExprSql — literally the corpus-keep expression).
    "q_budget_select" -> (((s: SparkSession, dir: String) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          graft.text.TextAnalysis.qualityScore(col("text")).as("q"))
      graft.ops.Sampling.budgetSelect(docs, col("q"), col("n_chars"),
          col("doc_id"), budget = 75000L)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_selected"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("q")).as("min_quality"))
        .orderBy("lang")
    }, Some(s"""WITH ql AS (
        SELECT doc_id, lang, n_chars, ${Queries.qualityExprSql} AS q
        FROM documents),
      c AS (SELECT *, sum(n_chars) OVER (ORDER BY q DESC, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS strt
            FROM ql)
      SELECT lang, count(*)::BIGINT AS n_selected,
        sum(n_chars)::BIGINT AS sum_chars, min(q) AS min_quality
      FROM c WHERE coalesce(strt, 0) + n_chars <= 75000
      GROUP BY lang ORDER BY lang"""))),

    // PSI distribution-drift monitor: Population Stability Index of the
    // length distribution between snapshots over fixed bins — 0 for the
    // self-compare, positive for a planted short-doc drop. Zero-count
    // bins take ε=1e-6 on both engines; per-bin ln quantizes at 1e9
    // (the zipfFit discipline) so the sum is order-proof.
    "q_psi_drift" -> (((s: SparkSession, dir: String) => {
      import graft.ops.Profile
      val ladder = Seq(100L, 200L, 300L, 400L, 600L, 100000L)
      val docs = t(s, dir, "documents")
      val self = Profile.psiDrift(docs, docs, col("n_chars"), ladder)
        .withColumn("scenario", lit("self"))
      val shifted = Profile.psiDrift(docs,
          docs.where(col("n_chars") > 150), col("n_chars"), ladder)
        .withColumn("scenario", lit("shifted"))
      self.unionByName(shifted).select("scenario", "psi", "n_bins")
        .orderBy("scenario")
    }, Some {
      val ladder = Seq(100L, 200L, 300L, 400L, 600L, 100000L)
      val binCase = ladder.init.foldRight(s"${ladder.last}") {
        (b, acc) => s"CASE WHEN n_chars <= $b THEN $b ELSE $acc END"
      }
      val binVals = ladder.map(b => s"($b)").mkString(", ")
      def chain(label: String, newWhere: String) =
        s"""SELECT '$label' AS scenario,
          round(sum(round((p - q) * (round(ln(p / q) * 1e9, 0) / 1e9)
            * 1e9, 0)) / 1e9, 6) AS psi,
          count(*)::BIGINT AS n_bins
        FROM (
          SELECT greatest(coalesce(o.n_old, 0)::DOUBLE
              / (SELECT count(*) FROM documents), 0.000001) AS p,
            greatest(coalesce(nn.n_new, 0)::DOUBLE
              / (SELECT count(*) FROM documents $newWhere), 0.000001) AS q
          FROM (VALUES $binVals) AS bins(bin)
          LEFT JOIN (SELECT $binCase AS bin, count(*) AS n_old
                     FROM documents GROUP BY 1) o USING (bin)
          LEFT JOIN (SELECT $binCase AS bin, count(*) AS n_new
                     FROM documents $newWhere GROUP BY 1) nn USING (bin))"""
      s"""${chain("self", "")}
      UNION ALL
      ${chain("shifted", "WHERE n_chars > 150")}
      ORDER BY scenario"""
    })),

    // Water-filling budget allocation: split a 90k-char budget across
    // sources proportionally to integer target weights, letting sources
    // whose supply runs out saturate and redistributing their share —
    // the allocation table a mixer enforces when the target mix asks
    // for more of a source than exists. Closed form over the
    // |sources|-row rollup; the oracle replays the same exclusive
    // prefix-sum saturation test in exact integer arithmetic.
    "q_budget_alloc" -> (((s: SparkSession, dir: String) => {
      val perSource = t(s, dir, "documents")
        .groupBy("source")
        .agg(sum(col("n_chars")).as("supply"))
        .withColumn("weight",
          graft.ops.Sampling.hashBits32(col("source")) % 9 + lit(1L))
      graft.ops.Sampling.waterFill(perSource, "source", "supply", "weight",
          budget = 90000L)
        .orderBy("source")
    }, Some("""WITH ps AS (
        SELECT source, sum(n_chars)::BIGINT AS supply,
          ((('0x' || substr(md5(source), 1, 8))::BIGINT) % 9 + 1) AS weight
        FROM documents GROUP BY source),
      tot AS (SELECT sum(weight)::BIGINT AS w_tot FROM ps),
      pre AS (
        SELECT *,
          coalesce(sum(supply) OVER (ORDER BY supply::DOUBLE / weight, source
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cs,
          coalesce(sum(weight) OVER (ORDER BY supply::DOUBLE / weight, source
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cw
        FROM ps),
      fl AS (
        SELECT p.*, t.w_tot,
          (supply * (w_tot - cw) <= (90000 - cs) * weight) AS saturated
        FROM pre p, tot t),
      st AS (SELECT
          sum(CASE WHEN saturated THEN supply ELSE 0 END)::BIGINT AS ss,
          sum(CASE WHEN saturated THEN weight ELSE 0 END)::BIGINT AS sw
        FROM fl)
      SELECT source, supply, weight, saturated,
        (CASE WHEN saturated THEN supply
          ELSE greatest(0, ((90000 - ss) * weight) // (w_tot - sw))
        END)::BIGINT AS allocated
      FROM fl, st ORDER BY source"""))),

    // Hash-sample quantile sketch: the bounded-state, mergeable
    // approximation of q_length_quantiles — per language, quantiles of
    // the k=64 rows with the smallest md5(doc_id), a deterministic
    // uniform subsample whose bottom-k retention makes daily sketches
    // union into weekly ones without re-reading the corpus. The oracle
    // replays sampling, ranking and interpolation verbatim.
    "q_sample_quantiles" -> (((s: SparkSession, dir: String) => {
      graft.agg.Sketches.hashSampleQuantiles(
        t(s, dir, "documents"), Seq(0.1, 0.5, 0.9, 0.99),
        group = "lang", value = "n_chars", id = "doc_id", k = 64)
        .orderBy("lang", "p")
    }, Some("""WITH sampled AS (
        SELECT lang, n_chars::DOUBLE AS v, doc_id FROM (
          SELECT lang, n_chars, doc_id,
            row_number() OVER (PARTITION BY lang
              ORDER BY ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT,
                doc_id) AS srn
          FROM documents)
        WHERE srn <= 64),
      ranked AS (
        SELECT lang, v,
          row_number() OVER (PARTITION BY lang ORDER BY v, doc_id) AS idx
        FROM sampled),
      np AS (SELECT lang, max(idx) AS n FROM ranked GROUP BY 1),
      ps AS (SELECT unnest([0.1, 0.5, 0.9, 0.99]) AS p),
      tgt AS (SELECT lang, p, p * (n - 1)::DOUBLE AS pos,
          floor(p * (n - 1)::DOUBLE)::BIGINT + 1 AS lo,
          ceil(p * (n - 1)::DOUBLE)::BIGINT + 1 AS hi
        FROM np CROSS JOIN ps)
      SELECT t.lang, t.p,
        round(rl.v + (t.pos - floor(t.pos)) * (rh.v - rl.v), 6) AS quantile
      FROM tgt t
      JOIN ranked rl ON rl.lang = t.lang AND rl.idx = t.lo
      JOIN ranked rh ON rh.lang = t.lang AND rh.idx = t.hi
      ORDER BY t.lang, t.p"""))),

    // Embedding-space outlier gate: assign every vector to its nearest
    // centroid (IVF argmax, ties to the smaller cid) and flag vectors
    // whose cosine to their OWN cell centroid is below 0.1 — the
    // curation filter that drops mis-embedded/off-manifold samples
    // before contrastive training. Centroids follow the q_ivf_topk
    // convention (vec_id < 8) so the oracle replays assignment exactly.
    "q_cell_outliers" -> (((s: SparkSession, dir: String) => {
      val emb = t(s, dir, "embeddings")
      val centroids = emb.where(col("vec_id") < 8)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).map(_.toDouble).toSeq))
        .toSeq
      graft.sim.Similarity.cellOutliers(emb, centroids, threshold = 0.1)
        .orderBy("vec_id")
    }, Some("""WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
      scored AS (
        SELECT e.vec_id, c.cid,
          list_dot_product(e.v, c.cv)
            / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) AS s
        FROM e CROSS JOIN c),
      assign AS (
        SELECT vec_id, cid AS cell, round(s, 6) AS cell_cos FROM (
          SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
          FROM scored)
        WHERE rn = 1)
      SELECT vec_id, cell, cell_cos, (cell_cos < 0.1) AS is_outlier
      FROM assign ORDER BY vec_id"""))),

    // Split-leakage audit: near-dup candidate pairs rolled up by the
    // DOC-HASH train/val/test assignment of their endpoints — the
    // measurement of exactly the boundary-crossing leakage
    // q_cluster_split prevents (off-diagonal mass = eval answers
    // circulating in train). Pure reuse: crossSourceDupMatrix over the
    // splitAssign column instead of the source column.
    "q_split_leakage" -> (((s: SparkSession, dir: String) => {
      val withSplit = t(s, dir, "documents").withColumn("split",
        graft.ops.Sampling.splitAssign(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
      Dedup.crossSourceDupMatrix(withSplit, source = "split")
        .withColumnRenamed("source_a", "split_a")
        .withColumnRenamed("source_b", "split_b")
        .orderBy("split_a", "split_b")
    }, Some(s"""WITH $minhashCtes,
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
        WHERE a.doc_id < b.doc_id),
      sp AS (
        SELECT doc_id,
          CASE WHEN h < 0.8 THEN 'train' WHEN h < 0.9 THEN 'val'
               ELSE 'test' END AS split
        FROM (SELECT doc_id,
            ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT
              / 4294967296.0 AS h
          FROM documents))
      SELECT least(sa.split, sb.split) AS split_a,
        greatest(sa.split, sb.split) AS split_b,
        count(*)::BIGINT AS n_pairs
      FROM cand
      JOIN sp sa ON cand.doc_a = sa.doc_id
      JOIN sp sb ON cand.doc_b = sb.doc_id
      GROUP BY 1, 2 ORDER BY 1, 2"""))),

    // Index-tuning audit: recall@10 + a true-top-1 hit flag for the LSH
    // index against exact brute force, per sampled query — the artifact
    // that decides nBits before an index ships. Exact side is one
    // corpus pass over the broadcast (metadata-sized) query sample;
    // the ANN side is the production bucket join. The oracle replays
    // both rankings off the same hyperplane family.
    "q_ann_recall" -> (((s: SparkSession, dir: String) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.sim.Similarity.annRecall(emb, queries, k = 10, dim = 64, nBits = 4)
        .orderBy("query_id")
    }, Some {
      val bucket = lshBucketSql(4)
      s"""WITH idx AS (
        SELECT vec_id, embedding::DOUBLE[] AS e, $bucket AS bucket
        FROM embeddings),
      q AS (SELECT vec_id AS query_id, e, bucket
            FROM idx WHERE vec_id % 25 = 0),
      acand AS (
        SELECT q.query_id, i.vec_id,
          round(list_dot_product(i.e, q.e)
            / (sqrt(list_dot_product(i.e, i.e)) * sqrt(list_dot_product(q.e, q.e))), 6) AS s
        FROM idx i JOIN q ON i.bucket = q.bucket),
      ann AS (
        SELECT query_id, vec_id FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY s DESC, vec_id) AS rn
          FROM acand)
        WHERE rn <= 10),
      ecand AS (
        SELECT q.query_id, i.vec_id,
          round(list_dot_product(i.e, q.e)
            / (sqrt(list_dot_product(i.e, i.e)) * sqrt(list_dot_product(q.e, q.e))), 6) AS s
        FROM idx i CROSS JOIN q),
      exact AS (
        SELECT query_id, vec_id, rn AS rank FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY s DESC, vec_id) AS rn
          FROM ecand)
        WHERE rn <= 10),
      hits AS (
        SELECT e.query_id, count(*)::BIGINT AS n_hits,
          max(CASE WHEN e.rank = 1 THEN 1.0 ELSE 0.0 END) AS rr
        FROM exact e
        JOIN ann a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
        GROUP BY 1)
      SELECT q.query_id, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
        round(coalesce(h.n_hits, 0)::DOUBLE / 10, 6) AS recall_at_k,
        coalesce(h.rr, 0.0) AS top1_hit
      FROM q LEFT JOIN hits h USING (query_id) ORDER BY q.query_id"""
    })),

    // Graded retrieval quality — nDCG@10 and MRR for the LSH index vs
    // exact brute force: recall scores the SET, this scores the ORDER.
    // Gains are integer grades (11 − true rank), rank discounts and the
    // ideal DCG are driver-precomputed 1e9-quantized literals shared
    // with the oracle, so every per-query DCG is exact BIGINT arithmetic
    // and only the final ratio divides.
    "q_ann_ndcg" -> (((s: SparkSession, dir: String) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") % 25 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      graft.sim.Similarity.annNdcg(emb, queries, k = 10, dim = 64, nBits = 4)
        .orderBy("query_id")
    }, Some {
      val bucket = lshBucketSql(4)
      val ds = graft.sim.Similarity.ndcgDiscounts(10).mkString(", ")
      val ideal = graft.sim.Similarity.ndcgIdeal(10)
      s"""WITH idx AS (
        SELECT vec_id, embedding::DOUBLE[] AS e, $bucket AS bucket
        FROM embeddings),
      q AS (SELECT vec_id AS query_id, e, bucket
            FROM idx WHERE vec_id % 25 = 0),
      acand AS (
        SELECT q.query_id, i.vec_id,
          round(list_dot_product(i.e, q.e)
            / (sqrt(list_dot_product(i.e, i.e)) * sqrt(list_dot_product(q.e, q.e))), 6) AS s
        FROM idx i JOIN q ON i.bucket = q.bucket),
      ann AS (
        SELECT query_id, vec_id, rn AS arank FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY s DESC, vec_id) AS rn
          FROM acand)
        WHERE rn <= 10),
      ecand AS (
        SELECT q.query_id, i.vec_id,
          round(list_dot_product(i.e, q.e)
            / (sqrt(list_dot_product(i.e, i.e)) * sqrt(list_dot_product(q.e, q.e))), 6) AS s
        FROM idx i CROSS JOIN q),
      exact AS (
        SELECT query_id, vec_id, rn AS erank FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY s DESC, vec_id) AS rn
          FROM ecand)
        WHERE rn <= 10),
      scored AS (
        SELECT a.query_id,
          sum((CASE WHEN e.erank IS NULL THEN 0 ELSE 11 - e.erank END)
            * ([$ds])[a.arank])::BIGINT AS dcg,
          max(CASE WHEN e.erank = 1 THEN round(1.0 / a.arank, 6)
              ELSE 0.0 END) AS mrr
        FROM ann a LEFT JOIN exact e USING (query_id, vec_id)
        GROUP BY 1)
      SELECT q.query_id,
        round(coalesce(s.dcg, 0)::DOUBLE / $ideal.0, 6) AS ndcg_at_k,
        coalesce(s.mrr, 0.0) AS mrr
      FROM q LEFT JOIN scored s USING (query_id) ORDER BY q.query_id"""
    })),

    // Near-dup cluster size distribution: connected components over the
    // LSH candidate graph (singletons = their own component) rolled up
    // into (cluster_size, n_clusters) — the dedup report that shows
    // whether duplication is a long tail of pairs or a few mega
    // clusters, and sizes the survivor count before the canonical pick
    // runs. Metadata-sized output; the oracle walks reachability with
    // the same independent recursive CTE as q_cluster_split.
    "q_dup_cluster_stats" -> (((s: SparkSession, dir: String) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashCandidates(docs,
        numPerms = 8, rowsPerBand = 2, maxBucket = 1000000)
      val comp = Dedup.dedupClusters(pairs)
      docs.select("doc_id").join(comp, Seq("doc_id"), "left")
        .select(coalesce(col("cluster"), col("doc_id")).as("component"))
        .groupBy("component").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size")
    }, Some(s"""WITH RECURSIVE $minhashCtes,
      edges AS (
        SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
        WHERE a.doc_id <> b.doc_id),
      walk(node, comp) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, wk.comp FROM walk wk JOIN edges e ON e.src = wk.node),
      comp AS (SELECT node AS doc_id, min(comp)::BIGINT AS component
               FROM walk GROUP BY 1),
      allc AS (
        SELECT d.doc_id, coalesce(c.component, d.doc_id)::BIGINT AS component
        FROM documents d LEFT JOIN comp c USING (doc_id)),
      szs AS (SELECT component, count(*)::BIGINT AS cluster_size
              FROM allc GROUP BY 1)
      SELECT cluster_size, count(*)::BIGINT AS n_clusters
      FROM szs GROUP BY 1 ORDER BY 1"""))),

    // Source profiling: top-5 most distinctive terms per source by the
    // Dirichlet-prior log-odds z-score (Monroe et al. 2008), flat
    // prior 1/2 — corpus-common words cancel, so the list answers
    // "what is peculiar to this source". z is a pure per-row scalar
    // over integer-plus-half values (no cross-row double sums); the
    // ranking cuts on the rounded z with a term tie-break.
    "q_source_logodds" -> (((s: SparkSession, dir: String) => {
      graft.text.TextAnalysis.sourceLogOdds(t(s, dir, "documents"), topK = 5)
        .orderBy("source", "rank")
    }, Some("""WITH tokz AS (
        SELECT source, unnest(list_filter(string_split(text, ' '),
          x -> len(x) > 0)) AS term
        FROM documents),
      csw AS (SELECT source, term, count(*)::BIGINT AS csw
              FROM tokz GROUP BY 1, 2),
      cw AS (SELECT term, sum(csw)::BIGINT AS cw FROM csw GROUP BY 1),
      ns AS (SELECT source, sum(csw)::BIGINT AS ns FROM csw GROUP BY 1),
      tot AS (SELECT sum(cw)::BIGINT AS n, count(*)::BIGINT AS v FROM cw),
      sc AS (
        SELECT csw.source, csw.term,
          round((ln((csw::DOUBLE + 0.5)
                / (ns::DOUBLE + v::DOUBLE / 2.0 - csw::DOUBLE - 0.5))
             - ln(((cw - csw)::DOUBLE + 0.5)
                / ((n - ns)::DOUBLE + v::DOUBLE / 2.0 - (cw - csw)::DOUBLE - 0.5)))
            / sqrt(1.0 / (csw::DOUBLE + 0.5)
                 + 1.0 / ((cw - csw)::DOUBLE + 0.5)), 6) AS z_score
        FROM csw JOIN cw USING (term) JOIN ns USING (source), tot)
      SELECT source, term, z_score, rn AS rank FROM (
        SELECT *, row_number() OVER (
          PARTITION BY source ORDER BY z_score DESC, term) AS rn
        FROM sc)
      WHERE rn <= 5 ORDER BY source, rank"""))),

    // LSH banding precision audit — the MinHash twin of q_ann_recall:
    // what fraction of candidate pairs survive exact Jaccard
    // verification at τ=0.5. The tuning artifact for
    // numPerms/rowsPerBand before a dedup config ships; one summary
    // row, all pair work inside the existing banded candidate +
    // verification pipeline. The τ compare uses the ROUNDED jaccard on
    // both engines.
    "q_lsh_precision" -> (((s: SparkSession, dir: String) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashCandidates(docs,
        numPerms = 8, rowsPerBand = 2, maxBucket = 1000000)
      Dedup.ngramJaccard(docs, pairs)
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("jaccard") >= 0.5, lit(1L)).otherwise(lit(0L)))
            .as("n_verified"))
        .select(col("n_candidates"), col("n_verified"),
          round(col("n_verified").cast("double")
            / col("n_candidates").cast("double"), 6).as("precision"))
    }, Some(s"""WITH $minhashCtes,
      pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
        WHERE a.doc_id < b.doc_id),
      sizes AS (SELECT doc_id, count(*)::BIGINT AS sz FROM shd GROUP BY 1),
      inter AS (
        SELECT p.doc_a, p.doc_b, count(*)::BIGINT AS inter
        FROM pairs p
        JOIN shd a ON a.doc_id = p.doc_a
        JOIN shd b ON b.doc_id = p.doc_b AND a.sh = b.sh
        GROUP BY 1, 2),
      jac AS (
        SELECT p.doc_a, p.doc_b,
          round(coalesce(i.inter, 0)::DOUBLE
            / (sa.sz + sb.sz - coalesce(i.inter, 0)), 6) AS jaccard
        FROM pairs p
        LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
        JOIN sizes sa ON sa.doc_id = p.doc_a
        JOIN sizes sb ON sb.doc_id = p.doc_b)
      SELECT count(*)::BIGINT AS n_candidates,
        sum(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS n_verified,
        round(sum(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END)::DOUBLE
          / count(*)::DOUBLE, 6) AS precision
      FROM jac"""))),

    // Pearson chi-square independence test of language vs source over
    // the full contingency table (zero-observed cells included — they
    // still contribute E) — the "is the language mix uniform across
    // sources" expectation a mixing stage checks. Per-cell terms
    // quantize to integer nano-units before the sum (the repo's
    // partition-order-proof discipline); the table itself is
    // |langs|×|sources| rows, metadata-sized, built from broadcast
    // marginals.
    "q_lang_source_chi2" -> (((s: SparkSession, dir: String) => {
      val o = t(s, dir, "documents")
        .groupBy("lang", "source").agg(count(lit(1)).as("o"))
      val r = o.groupBy("lang").agg(sum("o").as("r"))
      val c = o.groupBy("source").agg(sum("o").as("c"))
      val n = o.agg(sum("o").as("n"))
      val cells = r.crossJoin(broadcast(c))
        .join(o, Seq("lang", "source"), "left")
        .crossJoin(broadcast(n))
        .withColumn("e", col("r").cast("double") * col("c").cast("double")
          / col("n").cast("double"))
        .withColumn("oo", coalesce(col("o"), lit(0L)).cast("double"))
        .withColumn("t", round((col("oo") - col("e")) * (col("oo") - col("e"))
          / col("e") * lit(1e9), 0).cast("long"))
      cells.agg(count(lit(1)).as("n_cells"),
        ((countDistinct("lang") - 1) * (countDistinct("source") - 1)).as("dof"),
        round(sum(col("t")).cast("double") / lit(1e9), 6).as("chi2"))
    }, Some("""WITH o AS (
        SELECT lang, source, count(*)::BIGINT AS o
        FROM documents GROUP BY 1, 2),
      r AS (SELECT lang, sum(o)::BIGINT AS r FROM o GROUP BY 1),
      c AS (SELECT source, sum(o)::BIGINT AS c FROM o GROUP BY 1),
      n AS (SELECT sum(o)::BIGINT AS n FROM o),
      cells AS (
        SELECT r.lang, c.source, coalesce(o.o, 0)::DOUBLE AS oo,
          r.r::DOUBLE * c.c::DOUBLE / n.n::DOUBLE AS e
        FROM r CROSS JOIN c
        LEFT JOIN o USING (lang, source), n),
      tt AS (SELECT lang, source,
               round((oo - e) * (oo - e) / e * 1e9)::BIGINT AS t
             FROM cells)
      SELECT count(*)::BIGINT AS n_cells,
        (count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1) AS dof,
        round(sum(t)::DOUBLE / 1e9, 6) AS chi2
      FROM tt"""))),

    // Robust per-language length profile: median, MAD, 5/95-winsorized
    // mean — the outlier-resistant location/scale gate when raw moments
    // are skew-dominated. Two range-partitioned quantile passes plus a
    // 1e-6-quantized clip aggregate; the oracle replays both ranked
    // interpolations and the identical clip arithmetic.
    "q_robust_stats" -> (((s: SparkSession, dir: String) => {
      graft.ops.GlobalRank.robustStats(t(s, dir, "documents"),
        group = "lang", value = "n_chars", id = "doc_id").orderBy("lang")
    }, Some("""WITH ranked AS (
        SELECT lang, n_chars::DOUBLE AS v, doc_id,
          row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS idx
        FROM documents),
      np AS (SELECT lang, max(idx) AS n FROM ranked GROUP BY 1),
      ps AS (SELECT unnest([0.05, 0.5, 0.95]) AS p),
      tgt AS (SELECT lang, p, p * (n - 1)::DOUBLE AS pos,
          floor(p * (n - 1)::DOUBLE)::BIGINT + 1 AS lo,
          ceil(p * (n - 1)::DOUBLE)::BIGINT + 1 AS hi
        FROM np CROSS JOIN ps),
      q AS (SELECT t.lang, t.p,
          round(rl.v + (t.pos - floor(t.pos)) * (rh.v - rl.v), 6) AS quantile
        FROM tgt t
        JOIN ranked rl ON rl.lang = t.lang AND rl.idx = t.lo
        JOIN ranked rh ON rh.lang = t.lang AND rh.idx = t.hi),
      wide AS (SELECT lang,
          max(CASE WHEN p = 0.05 THEN quantile END) AS p05,
          max(CASE WHEN p = 0.5 THEN quantile END) AS med,
          max(CASE WHEN p = 0.95 THEN quantile END) AS p95
        FROM q GROUP BY 1),
      j AS (SELECT r.lang, r.v, r.doc_id, w.p05, w.med, w.p95
            FROM ranked r JOIN wide w USING (lang)),
      dr AS (SELECT lang, abs(v - med) AS d, doc_id,
          row_number() OVER (
            PARTITION BY lang ORDER BY abs(v - med), doc_id) AS idx
        FROM j),
      mt AS (SELECT lang, 0.5 * (n - 1)::DOUBLE AS pos,
          floor(0.5 * (n - 1)::DOUBLE)::BIGINT + 1 AS lo,
          ceil(0.5 * (n - 1)::DOUBLE)::BIGINT + 1 AS hi
        FROM np),
      mad AS (SELECT m.lang,
          round(dl.d + (m.pos - floor(m.pos)) * (dh.d - dl.d), 6) AS mad
        FROM mt m
        JOIN dr dl ON dl.lang = m.lang AND dl.idx = m.lo
        JOIN dr dh ON dh.lang = m.lang AND dh.idx = m.hi),
      win AS (SELECT lang, count(*)::BIGINT AS n, max(med) AS median,
          round((sum(round(greatest(least(v, p95), p05) * 1e6)::BIGINT)::DOUBLE
              / 1e6) / count(*)::DOUBLE, 6) AS winsorized_mean
        FROM j GROUP BY 1)
      SELECT w.lang, w.n, w.median, m.mad, w.winsorized_mean
      FROM win w JOIN mad m USING (lang) ORDER BY lang"""))),

    // Local clustering coefficient over the near-dup candidate graph —
    // the per-node refinement of q_triangles' participation counts:
    // 2·tri/(deg·(deg−1)) separates boilerplate cliques (coeff → 1)
    // from template hubs that stitch unrelated documents together
    // (high degree, coeff → 0), the distinction that decides "drop the
    // whole cluster" vs "keep one per spoke" in curation. Runs on the
    // DEGREE-ORIENTED triangle algorithm ([[graft.graph.Triangles]]):
    // wedges enumerate only at each triangle's lowest-(degree, id)
    // vertex, so a d-degree hub owns C(outdeg, 2) ≲ m wedge pairs
    // instead of C(d, 2) — the arboricity-bounded production form of
    // the id-ordered stand-in q_triangles documents. The oracle walks
    // the same graph with the orientation-free 3-way join: per-node
    // counts are orientation-invariant, so this doubles as an
    // independent equivalence check of the oriented enumeration.
    "q_clustering_coeff" -> (((s: SparkSession, dir: String) => {
      val e = Dedup.minhashCandidates(t(s, dir, "documents"),
        numPerms = 8, rowsPerBand = 2, maxBucket = 1000000)
      graft.graph.Triangles.clusteringCoefficient(e)
        .select(col("node").as("doc_id"), col("degree"),
          col("n_triangles"), col("coeff"))
        .orderBy("doc_id")
    }, Some {
      s"""WITH $minhashCtes,
      edges AS (
        SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
        WHERE a.doc_id < b.doc_id),
      deg AS (
        SELECT node, count(*)::BIGINT AS degree FROM (
          SELECT src AS node FROM edges
          UNION ALL SELECT dst AS node FROM edges) GROUP BY 1),
      tri AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM edges e1
        JOIN edges e2 ON e1.dst = e2.src
        JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst),
      nodes AS (SELECT unnest([a, b, c]) AS node FROM tri),
      tric AS (SELECT node, count(*)::BIGINT AS n_triangles
               FROM nodes GROUP BY 1)
      SELECT d.node AS doc_id, d.degree,
        coalesce(t.n_triangles, 0)::BIGINT AS n_triangles,
        CASE WHEN d.degree > 1
          THEN round((2.0 * coalesce(t.n_triangles, 0))
                     / (d.degree * (d.degree - 1.0)), 6)
          ELSE 0.0 END AS coeff
      FROM deg d LEFT JOIN tric t USING (node) ORDER BY doc_id"""
    })),

    // Corpus snapshot diff — the daily-crawl CDC report
    // ([[graft.ops.Cdc.snapshotDiff]]): two versions of the documents
    // table (v1 drops the doc_id%10=3 slice, v2 drops %10=7 and edits
    // the %5=1 slice) reduced map-side to (key, md5 fingerprint), one
    // co-partitioned full outer join, unchanged keys dropped in place.
    // At 100 TB the full-width text never shuffles — only 16-byte
    // fingerprints — and the output (the re-tokenization worklist) is
    // bounded by churn, not corpus size.
    "q_corpus_diff" -> (((s: SparkSession, dir: String) => {
      val docs = t(s, dir, "documents")
      val v1 = docs.where(col("doc_id") % 10 =!= 3)
      val v2 = docs.where(col("doc_id") % 10 =!= 7)
        .withColumn("text", when(col("doc_id") % 5 === 1,
          concat(col("text"), lit(" [v2]"))).otherwise(col("text")))
      graft.ops.Cdc.snapshotDiff(v1, v2, Seq("doc_id"), Seq("text"))
        .orderBy("doc_id")
    }, Some("""WITH v1 AS (
        SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 10 != 3),
      v2 AS (
        SELECT doc_id,
          md5(CASE WHEN doc_id % 5 = 1 THEN text || ' [v2]' ELSE text END) AS fp
        FROM documents WHERE doc_id % 10 != 7)
      SELECT coalesce(v1.doc_id, v2.doc_id)::BIGINT AS doc_id,
        CASE WHEN v1.fp IS NULL THEN 'added'
             WHEN v2.fp IS NULL THEN 'removed'
             ELSE 'changed' END AS status
      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
      WHERE v1.fp IS NULL OR v2.fp IS NULL OR v1.fp != v2.fp
      ORDER BY doc_id"""))),

    // LSH banding auto-tune ([[Dedup.lshBanding]]): for a 16-permutation
    // signature, score every divisor split (bands × rows/band) by the
    // integrated deviation of its S-curve 1−(1−s^r)^b from the ideal
    // step at the target Jaccard τ = 0.5 — below-τ mass is wasted
    // verify-join fan-in, above-τ mass is lost recall — and rank the
    // splits (pick_rank 1 = the plan [[Dedup.minhashCandidatesAuto]]
    // runs). The same auto-sizing discipline as the CountMin gate's
    // width derivation. Determinism: the exponent chains are unrolled
    // as literal squaring products (no libm pow on either engine), the
    // midpoint grid never lands on τ, and the error integral is summed
    // as round(·1e9) integers.
    "q_lsh_autotune" -> (((s: SparkSession, dir: String) => {
      val grid = s.range(100)
        .select(((col("id") * 2 + 1) / lit(200.0)).as("s"))
      val errs = lshSplits.map { case (b, r) =>
        val p = lit(1.0) - ipowCol(lit(1.0) - ipowCol(col("s"), r), b)
        val term = when(col("s") < 0.5, p).otherwise(lit(1.0) - p)
        grid.agg(sum(round(term * lit(1000000000.0)).cast("long")).as("sq"))
          .select(lit(b).cast("long").as("bands"),
            lit(r).cast("long").as("rows_per_band"),
            round((col("sq") / lit(1000000000.0)) / lit(100.0), 6).as("err"))
      }.reduce(_ unionAll _)
      errs.withColumn("pick_rank", row_number().over(
          Window.orderBy(col("err"), col("bands").desc)).cast("long"))
        .orderBy("bands")
    }, Some {
      val selects = lshSplits.map { case (b, r) =>
        val p = s"(1.0 - ${ipowSql(s"(1.0 - ${ipowSql("s", r)})", b)})"
        s"""SELECT $b::BIGINT AS bands, $r::BIGINT AS rows_per_band,
          round((sum(round((CASE WHEN s < 0.5 THEN $p
                            ELSE 1.0 - $p END) * 1000000000.0)::BIGINT)
                 / 1000000000.0) / 100.0, 6) AS err FROM grid"""
      }.mkString(" UNION ALL ")
      s"""WITH grid AS (SELECT (i * 2 + 1) / 200.0 AS s FROM range(100) t(i)),
      errs AS ($selects)
      SELECT bands, rows_per_band, err,
        row_number() OVER (ORDER BY err, bands DESC)::BIGINT AS pick_rank
      FROM errs ORDER BY bands"""
    })),

    // The curation-funnel yield report: docs and tokens surviving each
    // cumulative gate of the production keep-pipeline (ingest → lang →
    // length → quality → repetition → exact dedup) — the observability
    // artifact a 100 TB build dashboards after every run to catch a
    // gate suddenly eating the corpus. Gate semantics are EXACTLY
    // q_corpus_filter's (shared signal expressions, thresholds on the
    // same rounded columns; the oracle literally prefixes the shared
    // keep SQL minus its filter), so the funnel can never drift from
    // the pipeline it audits. Scale: signals ride one scan; stages 0–4
    // are conditional sums in ONE aggregate over the flag frame; the
    // repetition branch runs over stage-3 survivors only (production
    // shape); dedup is a survivor-only md5 groupBy; output is 6 rows.
    "q_curation_funnel" -> (((s: SparkSession, dir: String) => {
      val ta = graft.text.TextAnalysis
      // The repetition stage uses the SCALAR
      // run-length fold over k3 survivors (when(k3, ...) — production
      // shape kept), pinned row-equal to the aggregate path by
      // ScalarTwinPropSpec; the previous shape paid a 3-gram explode
      // SHUFFLE + a join-back plus a second checkpoint. The whole flag
      // struct is built from ONE signals binding behind an explodeOnce
      // Generate barrier — a plain alias would be re-inlined into every
      // k-column (6+ signal copies per row, see ColumnUtil.explodeOnce).
      // Measured at sf0.1: 2.42 → ~1.1 s.
      val flagStruct = graft.ColumnUtil.bindOnce(ta.signals(col("text")), sg => {
        val k1 = sg.getField("lang_pred") === "en"
        val k2 = k1 && sg.getField("tok_cnt") >= 30
        val k3 = k2 && sg.getField("quality") >= 0.3
        graft.ColumnUtil.bindOnce(
          when(k3, ta.repetitionRatioScalar(col("text"))), rep =>
            struct(sg.getField("tok_cnt").as("tok_cnt"),
              k1.as("k1"), k2.as("k2"), k3.as("k3"),
              (k3 && rep <= 0.2).as("k4")))
      })
      val flagged = graft.ops.Checkpoints.truncate(
        t(s, dir, "documents")
          .select(col("doc_id"), md5(col("text")).as("h"),
            graft.ColumnUtil.explodeOnce(flagStruct).as("s"))
          .select(col("doc_id"), col("h"),
            col("s.tok_cnt").as("tok_cnt"), col("s.k1").as("k1"),
            col("s.k2").as("k2"), col("s.k3").as("k3"),
            col("s.k4").as("k4")))
      def n(k: String) = sum(when(col(k), 1L).otherwise(0L))
      def tk(k: String) = sum(when(col(k), col("tok_cnt")).otherwise(0L))
      val s04 = flagged.agg(
        count(lit(1)).as("n0"), sum("tok_cnt").as("t0"),
        n("k1").as("n1"), tk("k1").as("t1"), n("k2").as("n2"),
        tk("k2").as("t2"), n("k3").as("n3"), tk("k3").as("t3"),
        n("k4").as("n4"), tk("k4").as("t4"))
      val s5 = flagged.where(col("k4")).groupBy("h")
        .agg(min_by(col("tok_cnt"), col("doc_id")).as("tk"))
        .agg(count(lit(1)).as("n5"), coalesce(sum("tk"), lit(0L)).as("t5"))
      val gates = Seq("ingest", "lang", "length", "quality",
        "repetition", "exact_dedup")
      s04.crossJoin(s5) // 1-row × 1-row scalar combine
        .select(explode(array(gates.zipWithIndex.map { case (g, i) =>
          struct(lit(i.toLong).as("stage"), lit(g).as("gate"),
            col(s"n$i").as("n_docs"), col(s"t$i").as("n_tokens"))
        }: _*)).as("r"))
        .select(col("r.stage").as("stage"), col("r.gate").as("gate"),
          col("r.n_docs").as("n_docs"), col("r.n_tokens").as("n_tokens"))
        .orderBy("stage")
    }, Some {
      def n(k: String) = s"sum(CASE WHEN $k THEN 1 ELSE 0 END)::BIGINT"
      def tk(k: String) = s"sum(CASE WHEN $k THEN tok_cnt ELSE 0 END)::BIGINT"
      val stages = Seq("ingest", "lang", "length", "quality",
        "repetition", "exact_dedup").zipWithIndex.map { case (g, i) =>
        s"SELECT $i::BIGINT AS stage, '$g' AS gate, n$i AS n_docs, t$i AS n_tokens FROM s04, s5"
      }.mkString(" UNION ALL ")
      s"""WITH sigq AS (${Queries.corpusSignalsSql}),
      flags AS (
        SELECT f.doc_id, f.tok_cnt, md5(d.text) AS h,
          (f.lang_pred = 'en') AS k1,
          (f.lang_pred = 'en' AND f.tok_cnt >= 30) AS k2,
          (f.lang_pred = 'en' AND f.tok_cnt >= 30
            AND f.quality >= 0.3) AS k3,
          (f.lang_pred = 'en' AND f.tok_cnt >= 30
            AND f.quality >= 0.3 AND f.rep_ratio <= 0.2) AS k4
        FROM sigq f JOIN documents d ON f.doc_id = d.doc_id),
      s04 AS (
        SELECT count(*)::BIGINT AS n0, sum(tok_cnt)::BIGINT AS t0,
          ${n("k1")} AS n1, ${tk("k1")} AS t1,
          ${n("k2")} AS n2, ${tk("k2")} AS t2,
          ${n("k3")} AS n3, ${tk("k3")} AS t3,
          ${n("k4")} AS n4, ${tk("k4")} AS t4
        FROM flags),
      s5 AS (
        SELECT count(*)::BIGINT AS n5, coalesce(sum(tk), 0)::BIGINT AS t5
        FROM (SELECT h, arg_min(tok_cnt, doc_id) AS tk
              FROM flags WHERE k4 GROUP BY 1))
      SELECT stage, gate, n_docs, n_tokens FROM ($stages) ORDER BY stage"""
    })),

    // Quality×duplication calibration: near-dup incidence per quality
    // decile — the audit that tells a curation pipeline whether its
    // dedup pass preferentially removes low-quality boilerplate (the
    // expected shape) or is eating high-quality docs (a banding bug or
    // boilerplate-heavy "good" source). Deciles are exact rank-based
    // cuts through the RANGE-PARTITIONED GlobalRank total order
    // ((quality, doc_id)) — no single-partition window at any scale —
    // and duplicate membership is node-incidence of the banded LSH
    // candidate edges (never all pairs). The count scalar rides the
    // 1-row broadcast idiom.
    "q_quality_dup_decile" -> (((s: SparkSession, dir: String) => {
      val ta = graft.text.TextAnalysis
      val docs = t(s, dir, "documents")
      // truncated: the signal frame feeds both the rank pass and the
      // count scalar — language-id/quality regexes compute once
      val q = graft.ops.Checkpoints.truncate(
        docs.select(col("doc_id"), ta.signals(col("text")).as("sg"))
          .select(col("doc_id"), col("sg.quality").as("quality")))
      val ranked = graft.ops.GlobalRank.withGlobalRank(
        q, Seq(col("quality"), col("doc_id")))
      val nRow = q.agg(count(lit(1)).as("_n"))
      val e = Dedup.minhashCandidates(docs, numPerms = 8, rowsPerBand = 2,
        maxBucket = 1000000)
      val dupIds = e.select(col("doc_a").as("doc_id"))
        .unionAll(e.select(col("doc_b").as("doc_id")))
        .distinct().withColumn("_d", lit(1L))
      ranked.crossJoin(broadcast(nRow)) // 1-row scalar
        .withColumn("decile", expr("((rank - 1) * 10) div _n"))
        .join(dupIds, Seq("doc_id"), "left")
        .withColumn("isdup", when(col("_d").isNotNull, 1L).otherwise(0L))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"), sum("isdup").as("n_dups"),
          round(sum("isdup").cast("double") / count(lit(1)), 6).as("dup_rate"))
        .orderBy("decile")
    }, Some {
      s"""WITH $minhashCtes,
      sigq AS (${Queries.corpusSignalsSql}),
      rk AS (SELECT doc_id, quality,
               row_number() OVER (ORDER BY quality, doc_id) AS rn FROM sigq),
      nn AS (SELECT count(*)::BIGINT AS n FROM sigq),
      dups AS (SELECT DISTINCT doc_id FROM (
        SELECT a.doc_id FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
        UNION ALL
        SELECT b.doc_id FROM bands a JOIN bands b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)),
      flagged AS (
        SELECT ((r.rn - 1) * 10) // nn.n AS decile,
          CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END AS isdup
        FROM rk r CROSS JOIN nn LEFT JOIN dups d ON r.doc_id = d.doc_id)
      SELECT decile::BIGINT AS decile, count(*)::BIGINT AS n_docs,
        sum(isdup)::BIGINT AS n_dups,
        round(sum(isdup)::DOUBLE / count(*), 6) AS dup_rate
      FROM flagged GROUP BY 1 ORDER BY 1"""
    })),

    // Embedding-space drift monitor: per-label centroid shift between
    // two corpus versions (v2 drops a slice and perturbs dim 0 in
    // proportion to the label) — the monitor a pipeline runs when the
    // embedder, the corpus, or both change underneath an ANN index.
    // Per-dim centroid sums quantize at 1e-6 before summation and the
    // dot/norm reduction at 1e-9, so every cross-row float sum is
    // integer and the cosine replays bit-identically (sqrt is IEEE
    // correctly-rounded, unlike pow). Scale: two scan-side posexplodes
    // into (label, dim)-keyed partial aggs — dims × labels rows of
    // state, no vector ever collected.
    "q_embed_drift" -> (((s: SparkSession, dir: String) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("e"))
      val v1 = emb.where(col("vec_id") % 10 =!= 3)
      val v2 = emb.where(col("vec_id") % 10 =!= 7)
        .withColumn("e", transform(col("e"), (x, i) =>
          when(i === 0, x + lit(0.01) * col("label")).otherwise(x)))
      graft.sim.Similarity.centroidDrift(v1, v2)
        .select(col("label").cast("long").as("label"), col("centroid_cos"))
        .orderBy("label")
    }, Some("""WITH base AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
      v1 AS (SELECT label, e FROM base WHERE vec_id % 10 != 3),
      v2 AS (SELECT label,
          list_transform(e, (x, i) ->
            CASE WHEN i = 1 THEN x + 0.01 * label ELSE x END) AS e
        FROM base WHERE vec_id % 10 != 7),
      c1 AS (SELECT label, pos, sum(round(x * 1000000.0)::BIGINT)::BIGINT
               / 1000000.0 / count(*) AS m
             FROM (SELECT label, unnest(e) AS x,
                     unnest(range(0, len(e))) AS pos FROM v1)
             GROUP BY 1, 2),
      c2 AS (SELECT label, pos, sum(round(x * 1000000.0)::BIGINT)::BIGINT
               / 1000000.0 / count(*) AS m2
             FROM (SELECT label, unnest(e) AS x,
                     unnest(range(0, len(e))) AS pos FROM v2)
             GROUP BY 1, 2),
      j AS (SELECT c1.label,
          sum(round(m * m2 * 1000000000.0)::BIGINT)::BIGINT AS dot_q,
          sum(round(m * m * 1000000000.0)::BIGINT)::BIGINT AS n1_q,
          sum(round(m2 * m2 * 1000000000.0)::BIGINT)::BIGINT AS n2_q
        FROM c1 JOIN c2 ON c1.label = c2.label AND c1.pos = c2.pos
        GROUP BY 1)
      SELECT label::BIGINT AS label,
        round((dot_q / 1000000000.0) /
          (sqrt(n1_q / 1000000000.0) * sqrt(n2_q / 1000000000.0)), 6)
          AS centroid_cos
      FROM j ORDER BY label"""))),

    // The auto-tuner proved empirically: for three target thresholds,
    // run the EXACT plan [[Dedup.minhashCandidatesAuto]] derives
    // (lshBanding picks (8,2)/(4,4)/(2,8) at τ=0.3/0.5/0.8 over 16
    // perms) and measure candidate count + Jaccard-verified count +
    // precision. Stricter τ → fewer bands of more rows → fewer, more
    // precise candidates: the S-curve math becoming a measured,
    // oracle-checked monotonicity. Verification compares the ROUNDED
    // jaccard (shared 6-digit discipline) so the threshold can't flip
    // between engines. Scale: three banded candidate joins + exact
    // verification over candidates only — never all pairs; signatures
    // are computed once per config from the same shingle pass shape.
    "q_lsh_tuned_sweep" -> (((s: SparkSession, dir: String) => {
      val docs = t(s, dir, "documents")
      sweepTaus.map { tau =>
        val (b, r) = Dedup.lshBanding(tau, 16)
        val cand = Dedup.minhashCandidates(docs, numPerms = 16,
          rowsPerBand = r, maxBucket = 1000000)
        Dedup.ngramJaccard(docs, cand)
          .agg(count(lit(1)).as("n_candidates"),
            sum(when(col("jaccard") >= tau, 1L).otherwise(0L)).as("n_verified"))
          .select(lit(tau).as("tau"),
            lit(b).cast("long").as("bands"),
            lit(r).cast("long").as("rows_per_band"),
            col("n_candidates"), col("n_verified"),
            when(col("n_candidates") > 0,
              round(col("n_verified").cast("double")
                / col("n_candidates").cast("double"), 6))
              .otherwise(lit(0.0)).as("precision"))
      }.reduce(_ unionAll _).orderBy("tau")
    }, Some {
      val chains = sweepTaus.map { tau =>
        val (b, r) = Dedup.lshBanding(tau, 16)
        val tag = s"t${(tau * 10).round}"
        s"""bands_$tag AS (${bandSelects(16, r)}),
        pairs_$tag AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands_$tag a JOIN bands_$tag b
            ON a.band = b.band AND a.bkey = b.bkey
          WHERE a.doc_id < b.doc_id),
        inter_$tag AS (
          SELECT p.doc_a, p.doc_b, count(*)::BIGINT AS inter
          FROM pairs_$tag p
          JOIN shd a ON a.doc_id = p.doc_a
          JOIN shd b ON b.doc_id = p.doc_b AND a.sh = b.sh
          GROUP BY 1, 2),
        jac_$tag AS (
          SELECT p.doc_a, p.doc_b,
            round(coalesce(i.inter, 0)::DOUBLE
              / (sa.sz + sb.sz - coalesce(i.inter, 0)), 6) AS jaccard
          FROM pairs_$tag p
          LEFT JOIN inter_$tag i
            ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
          JOIN sizes sa ON sa.doc_id = p.doc_a
          JOIN sizes sb ON sb.doc_id = p.doc_b),
        row_$tag AS (
          SELECT $tau AS tau, $b::BIGINT AS bands, $r::BIGINT AS rows_per_band,
            count(*)::BIGINT AS n_candidates,
            sum(CASE WHEN jaccard >= $tau THEN 1 ELSE 0 END)::BIGINT AS n_verified,
            CASE WHEN count(*) > 0
              THEN round(sum(CASE WHEN jaccard >= $tau THEN 1 ELSE 0 END)::DOUBLE
                         / count(*)::DOUBLE, 6)
              ELSE 0.0 END AS precision
          FROM jac_$tag)"""
      }.mkString(",\n")
      val rows = sweepTaus.map(tau => s"SELECT * FROM row_t${(tau * 10).round}")
        .mkString(" UNION ALL ")
      s"""WITH $shingleCtes,
      sig AS (SELECT doc_id, ${sigSelects(16)} FROM hx GROUP BY 1),
      sizes AS (SELECT doc_id, count(*)::BIGINT AS sz FROM shd GROUP BY 1),
      $chains
      SELECT tau, bands, rows_per_band, n_candidates, n_verified, precision
      FROM ($rows) ORDER BY tau"""
    })),

    // Dedup savings report: per source, what each dedup lens would
    // remove — exact (first occurrence per content hash survives) and
    // near-dup canonical (q_dedup_corpus's min-id-per-LSH-cluster keep)
    // as INDEPENDENT lenses over the same corpus, in docs, chars, and
    // the near-dup char fraction. This is the artifact that prices a
    // dedup pass before running it ("source B is 40% boilerplate by
    // bytes") and attributes savings after. Scale: both keep-flag
    // pipelines are the certified operators (hash groupBy; banded LSH +
    // O(diameter) components); the report adds two co-partitioned
    // doc_id joins and one |sources|-row aggregate — full text never
    // joins anything, only (doc_id, keep) flags move.
    "q_dedup_savings" -> (((s: SparkSession, dir: String) => {
      val docs = t(s, dir, "documents")
      val keepNear = Dedup.dedupCorpus(docs)
        .select(col("doc_id"), col("keep").as("keep_near"))
      val keepExact = docs
        .groupBy(md5(col("text")).as("_h"))
        .agg(min(col("doc_id")).as("_canon"))
        .select(col("_canon").as("doc_id"), lit(true).as("keep_exact"))
      docs.select(col("doc_id"), col("source"), col("n_chars"))
        .join(keepExact, Seq("doc_id"), "left")
        .join(keepNear, Seq("doc_id"))
        .withColumn("ke", coalesce(col("keep_exact"), lit(false)))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars_total"),
          sum(when(!col("ke"), 1L).otherwise(0L)).as("docs_removed_exact"),
          sum(when(!col("ke"), col("n_chars")).otherwise(0L)).as("chars_removed_exact"),
          sum(when(!col("keep_near"), 1L).otherwise(0L)).as("docs_removed_near"),
          sum(when(!col("keep_near"), col("n_chars")).otherwise(0L)).as("chars_removed_near"))
        .withColumn("near_char_frac",
          round(col("chars_removed_near").cast("double")
            / col("chars_total").cast("double"), 6))
        .orderBy("source")
    }, Some {
      s"""WITH RECURSIVE $shingleCtes,
      sig AS (SELECT doc_id, ${sigSelects(8)} FROM hx GROUP BY 1),
      bands AS (${bandSelects(8, 2)}),
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
      kn AS (SELECT d.doc_id, coalesce(comp.id = comp.label, TRUE) AS keep_near
             FROM documents d LEFT JOIN comp ON d.doc_id = comp.id),
      ke AS (SELECT doc_id,
               doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS ke
             FROM documents)
      SELECT d.source, count(*)::BIGINT AS n_docs,
        sum(d.n_chars)::BIGINT AS chars_total,
        sum(CASE WHEN NOT ke.ke THEN 1 ELSE 0 END)::BIGINT AS docs_removed_exact,
        sum(CASE WHEN NOT ke.ke THEN d.n_chars ELSE 0 END)::BIGINT AS chars_removed_exact,
        sum(CASE WHEN NOT kn.keep_near THEN 1 ELSE 0 END)::BIGINT AS docs_removed_near,
        sum(CASE WHEN NOT kn.keep_near THEN d.n_chars ELSE 0 END)::BIGINT AS chars_removed_near,
        round(sum(CASE WHEN NOT kn.keep_near THEN d.n_chars ELSE 0 END)::DOUBLE
          / sum(d.n_chars)::DOUBLE, 6) AS near_char_frac
      FROM documents d
      JOIN ke ON ke.doc_id = d.doc_id
      JOIN kn ON kn.doc_id = d.doc_id
      GROUP BY 1 ORDER BY 1"""
    })),

    // Incremental ANN index maintenance: between two embedding
    // snapshots, assign ONLY the delta vectors (added / removed) to
    // their IVF cells and emit the per-cell postings worklist — the
    // churn-bounded companion of q_corpus_diff for the vector side. At
    // 100 TB with 1% daily churn the two anti-joins and the broadcast
    // centroid assignment touch 1% of vectors; the standing index is
    // never rebuilt, and the output (cell → +n/−n) is |cells| rows.
    // Cell assignment is the production buildIvfIndex path (broadcast
    // centroids, (sim, −cid) running max), the same tie-break the IVF
    // oracles already certify.
    "q_ivf_incremental" -> (((s: SparkSession, dir: String) => {
      val emb = t(s, dir, "embeddings")
      val centroids = emb.where(col("vec_id") < 8)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0).toInt,
          r.getSeq[Float](1).map(_.toDouble).toSeq)).toSeq
      val v1 = emb.where(col("vec_id") % 10 =!= 3)
      val v2 = emb.where(col("vec_id") % 10 =!= 7)
      val added = v2.join(v1.select("vec_id"), Seq("vec_id"), "left_anti")
      val removed = v1.join(v2.select("vec_id"), Seq("vec_id"), "left_anti")
      def cells(d: DataFrame, as: String) =
        graft.sim.Similarity.buildIvfIndex(d, centroids)
          .groupBy("cell").agg(count(lit(1)).as(as))
      cells(added, "n_added")
        .join(cells(removed, "n_removed"), Seq("cell"), "full_outer")
        .select(col("cell").cast("long").as("cell"),
          coalesce(col("n_added"), lit(0L)).as("n_added"),
          coalesce(col("n_removed"), lit(0L)).as("n_removed"))
        .orderBy("cell")
    }, Some("""WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
      v1 AS (SELECT * FROM e WHERE vec_id % 10 != 3),
      v2 AS (SELECT * FROM e WHERE vec_id % 10 != 7),
      added AS (SELECT * FROM v2
                WHERE vec_id NOT IN (SELECT vec_id FROM v1)),
      removed AS (SELECT * FROM v1
                  WHERE vec_id NOT IN (SELECT vec_id FROM v2)),
      aassign AS (SELECT vec_id, cid FROM (
        SELECT a.vec_id, c.cid, row_number() OVER (PARTITION BY a.vec_id
          ORDER BY list_cosine_similarity(a.v, c.cv) DESC, c.cid) AS rn
        FROM added a CROSS JOIN c) WHERE rn = 1),
      rassign AS (SELECT vec_id, cid FROM (
        SELECT r.vec_id, c.cid, row_number() OVER (PARTITION BY r.vec_id
          ORDER BY list_cosine_similarity(r.v, c.cv) DESC, c.cid) AS rn
        FROM removed r CROSS JOIN c) WHERE rn = 1),
      ac AS (SELECT cid AS cell, count(*)::BIGINT AS n_added
             FROM aassign GROUP BY 1),
      rc AS (SELECT cid AS cell, count(*)::BIGINT AS n_removed
             FROM rassign GROUP BY 1)
      SELECT coalesce(ac.cell, rc.cell)::BIGINT AS cell,
        coalesce(n_added, 0)::BIGINT AS n_added,
        coalesce(n_removed, 0)::BIGINT AS n_removed
      FROM ac FULL OUTER JOIN rc ON ac.cell = rc.cell
      ORDER BY cell"""))),
  )

  /** Shared DuckDB CTE pair: whitespace tokens per (lang, doc) and the
    * per-language term count table with its descending frequency rank —
    * the base both corpus-statistics oracles (Zipf, Gini) build on,
    * replaying [[graft.text.TextAnalysis]]'s tokenizer verbatim.
    * Emits CTEs `cnt` (lang, term, c) and `rk` (cnt + rank `r`).
    */
  private def termCountCtes: String =
    """tokz AS (
        SELECT lang, unnest(list_filter(string_split(text, ' '),
          x -> len(x) > 0)) AS term
        FROM documents),
      cnt AS (SELECT lang, term, count(*)::BIGINT AS c
              FROM tokz GROUP BY 1, 2),
      rk AS (SELECT lang, term, c,
               row_number() OVER (PARTITION BY lang ORDER BY c DESC, term) AS r
             FROM cnt)"""

  /** Shared DuckDB CTE chain replaying [[graft.text.Classifier
    * .nbPredict]] on the documents table (nBuckets = 64, label =
    * lang): tokenize+hash, class priors/totals, smoothed bucket
    * weights, unseen-bucket default, per-doc per-class scores, and the
    * score-desc/pred-asc argmax window. Callers append their final
    * SELECT over the `win` CTE.
    */
  private def nbOracle: String =
    """WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        FROM documents),
      bkt AS (
        SELECT doc_id, lang, ('0x' || substr(md5(w), 1, 15))::BIGINT % 64 AS b
        FROM tok WHERE len(w) > 0),
      nd AS (SELECT count(*)::BIGINT AS nd FROM documents),
      cls AS (SELECT lang AS label, count(*)::BIGINT AS ndl
              FROM documents GROUP BY 1),
      ct AS (
        SELECT c.label,
          round(ln(c.ndl::DOUBLE / nd.nd) * 1e9)::BIGINT AS logprior, t.totl
        FROM cls c
        JOIN (SELECT lang AS label, count(*)::BIGINT AS totl
              FROM bkt GROUP BY 1) t USING (label), nd),
      wt AS (
        SELECT cw.b, cw.label,
          round(ln((cw.c + 1.0) / (ct.totl + 64.0)) * 1e9)::BIGINT AS w
        FROM (SELECT b, lang AS label, count(*)::BIGINT AS c
              FROM bkt GROUP BY 1, 2) cw
        JOIN ct USING (label)),
      w0 AS (SELECT label, logprior,
               round(ln(1.0 / (totl + 64.0)) * 1e9)::BIGINT AS w0 FROM ct),
      pd AS (SELECT doc_id, lang, b, count(*)::BIGINT AS n
             FROM bkt GROUP BY 1, 2, 3),
      sc AS (
        SELECT pd.doc_id, pd.lang, w0.label AS pred,
          round((w0.logprior + sum(pd.n * coalesce(wt.w, w0.w0)))::DOUBLE
            / 1e9, 6) AS score
        FROM pd CROSS JOIN w0
        LEFT JOIN wt ON wt.b = pd.b AND wt.label = w0.label
        GROUP BY 1, 2, 3, w0.logprior),
      win AS (
        SELECT *, row_number() OVER (
          PARTITION BY doc_id ORDER BY score DESC, pred) AS rn,
          lead(score) OVER (
            PARTITION BY doc_id ORDER BY score DESC, pred) AS nxt
        FROM sc)"""

  private def tmpDir(name: String, sfDir: String): String =
    ExtraQueries.tmp(name, sfDir)

  private def rmrf(path: String): Unit = ExtraQueries.rmrf(path)

  /** Deterministic ±1 JL projection row i: component j is +1 iff the
    * top bit of md5("p<i>|<j>") is set — the [[graft.sim.Similarity
    * .planeSeed]] discipline under an independent seed family ("p",
    * vs LSH's "h"/"t"), shared verbatim with the oracle generator.
    */
  /** The divisor splits of a 16-permutation signature scored by
    * q_lsh_autotune, (bands, rowsPerBand) with b·r = 16. All exponents
    * are powers of two so both engines can evaluate s^r and (1−s^r)^b
    * as bit-exact squaring chains instead of libm pow.
    */
  private def lshSplits: Seq[(Int, Int)] =
    Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))

  /** Target thresholds swept by q_lsh_tuned_sweep — chosen so the three
    * auto-derived bandings differ ((8,2), (4,4), (2,8) over 16 perms).
    */
  private def sweepTaus: Seq[Double] = Seq(0.3, 0.5, 0.8)

  /** x^n (n a power of two) as the balanced squaring product — the
    * Column and SQL emitters share this shape so the doubles associate
    * identically on both engines.
    */
  private def ipowCol(x: Column, n: Int): Column =
    if (n == 1) x else { val h = ipowCol(x, n / 2); h * h }

  private def ipowSql(x: String, n: Int): String =
    if (n == 1) x else { val h = ipowSql(x, n / 2); s"($h * $h)" }

  private def projSigns(i: Int): Seq[Double] =
    (0 until 64).map { j =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"p$i|$j".getBytes("UTF-8"))
      if ((hex(0) & 0x80) != 0) 1.0 else -1.0
    }
}
