package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.agg.Sketches
import graft.dedup.Dedup
import graft.sim.Similarity

/** Round-10 oracle queries: standalone connected components, hybrid
  * retrieval fusion, cross-doc substring dedup, and the deterministic
  * HLL sketch. Registered into [[Queries.fullRegistry]]; same
  * determinism rules as [[Queries]] (exact integers where association
  * matters, md5-only hashing, unique total orders before any limit).
  */
object MoreQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** DuckDB replay of [[graft.text.Bpe.trainMerges]]: the shared CTE
    * prefix — one word-count pass, then `steps` unrolled
    * (pair-count → best-pair → greedy list_reduce rewrite) rounds, the
    * same trajectory-unrolling discipline as the kmeans oracle. The
    * caller appends the final SELECT over `b0..b{steps-1}` / `s{steps}`.
    */
  private def bpeCtes(steps: Int): String =
    """WITH w AS (
        SELECT word, count(*)::BIGINT AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        WHERE len(word) > 0 GROUP BY 1),
      s0 AS (SELECT word, cnt,
        list_transform(range(1, len(word) + 1), i -> substr(word, i, 1)) AS syms
        FROM w)""" + bpeStepCtes(steps)

  /** The DuckDB lossless pre-token list of GPT-2-style byte-level BPE:
    * every word after the first carries its leading space (runs of
    * spaces → bare " " tokens) — concatenation reproduces `text`.
    */
  private val byteTokensSql: String =
    """unnest(list_transform(range(len(ws)),
        i -> CASE WHEN i = 0 THEN ws[i+1] ELSE ' ' || ws[i+1] END))"""

  /** DuckDB replay of [[graft.text.Bpe.trainByteMerges]]: same unrolled
    * trajectory as [[bpeCtes]], seeded from space-carrying pre-tokens
    * split into 2-hex-digit UTF-8 byte symbols (`hex(encode(word))` is
    * identical uppercase hex in both engines).
    */
  private def bpeBytesCtes(steps: Int): String =
    s"""WITH w AS (
        SELECT word, count(*)::BIGINT AS cnt
        FROM (SELECT $byteTokensSql AS word
              FROM (SELECT string_split(text, ' ') AS ws FROM documents))
        WHERE len(word) > 0 GROUP BY 1),
      s0 AS (SELECT word, cnt,
        list_transform(range(1, len(h) // 2 + 1), i -> substr(h, 2*i - 1, 2)) AS syms
        FROM (SELECT word, cnt, hex(encode(word)) AS h FROM w))""" +
      bpeStepCtes(steps)

  /** The shared per-step (pair-count → best-pair → greedy rewrite) CTE
    * rounds — identical for the char and byte alphabets; only the `s0`
    * seed differs.
    */
  private def bpeStepCtes(steps: Int): String = {
    val sb = new StringBuilder
    for (k <- 0 until steps) {
      sb ++= s""",
      pc$k AS (
        SELECT pr[1] AS a, pr[2] AS b, sum(cnt)::BIGINT AS c
        FROM (SELECT cnt, unnest(list_transform(range(1, len(syms)),
                i -> [syms[i], syms[i + 1]])) AS pr
              FROM s$k WHERE len(syms) >= 2)
        GROUP BY 1, 2),
      b$k AS (SELECT a, b, c FROM pc$k ORDER BY c DESC, a, b LIMIT 1),
      s${k + 1} AS (
        SELECT word, cnt,
          list_reduce(list_transform(syms, s -> [s]), (acc, x) ->
            CASE WHEN len(acc) > 0 AND acc[-1] = b$k.a AND x[1] = b$k.b
              THEN list_append(acc[1:-2], b$k.a || b$k.b)
              ELSE list_append(acc, x[1]) END) AS syms
        FROM s$k, b$k)"""
    }
    sb.toString
  }

  /** One UNION-ALL branch of the q_kmv_intersect oracle: the Beyer et al.
    * union-sketch membership estimate for one event-type pair, reading
    * the per-type bottom-k CTEs `s_<type>`.
    */
  private def kmvPairSql(a: String, b: String, k: Int): String =
    s"""SELECT '$a|$b' AS pair, su_size, matched,
      round(est_u, 6) AS est_union,
      CASE WHEN su_size = 0 THEN 0.0
        ELSE round(matched * est_u / su_size, 6) END AS est_intersect,
      $k::BIGINT AS k,
      (SELECT count(*)::BIGINT FROM
        (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d
         FROM events WHERE event_type = '$a') x
        JOIN (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d
              FROM events WHERE event_type = '$b') y
        USING (user_id, d)) AS exact_intersect
    FROM (
      SELECT count(*)::BIGINT AS su_size,
        coalesce(sum(CASE WHEN ina AND inb THEN 1 ELSE 0 END), 0)::BIGINT
          AS matched,
        CASE WHEN count(*) < $k THEN count(*)::DOUBLE
          ELSE ${k - 1}.0 / max(h) END AS est_u
      FROM (
        SELECT su.h, sa.h IS NOT NULL AS ina, sb.h IS NOT NULL AS inb
        FROM (SELECT h FROM (SELECT h FROM s_$a UNION SELECT h FROM s_$b)
              ORDER BY h LIMIT $k) su
        LEFT JOIN s_$a sa ON su.h = sa.h
        LEFT JOIN s_$b sb ON su.h = sb.h))"""

  val registry: Map[String, (
    (SparkSession, String) => DataFrame, Option[String])] = Map(

    // Pairwise set-overlap between event types over (user, day) activity
    // sets via KMV intersection sketches (Beyer et al. 2007): each set
    // is read ONCE into O(k) bottom-k state; union merge, membership
    // flags, and the ρ·|A∪B| estimate are k-row metadata. N sets need N
    // sketch builds — never N² distinct-joins. exact_intersect rides
    // along as certification of the estimator.
    "q_kmv_intersect" -> (((s: SparkSession, dir: String) => {
      val ev = t(s, dir, "events")
      def side(tp: String): DataFrame = ev
        .where(col("event_type") === tp)
        .select(concat_ws("|", col("user_id"),
          expr("ts_ns DIV 86400000000000")).as("ud"),
          col("user_id"), expr("ts_ns DIV 86400000000000").as("d"))
      Seq(("click", "purchase"), ("view", "click"), ("view", "purchase"))
        .map { case (a, b) =>
          val est = Sketches.kmvIntersect(
            side(a), col("ud"), side(b), col("ud"), k = 64)
          val exact = side(a).select("user_id", "d").distinct()
            .join(side(b).select("user_id", "d").distinct(),
              Seq("user_id", "d"))
            .agg(count(lit(1)).as("exact_intersect"))
          est.crossJoin(exact)
            .select(lit(s"$a|$b").as("pair"), col("su_size"), col("matched"),
              col("est_union"), col("est_intersect"), col("k"),
              col("exact_intersect"))
        }
        .reduce(_ unionByName _)
        .orderBy("pair")
    }, Some {
      val ctes = Seq("view", "click", "purchase").map { tp =>
        s"""h_$tp AS (
          SELECT DISTINCT ('0x' || substr(md5(user_id::VARCHAR || '|' ||
              (epoch_us(ts) // 86400000000)::VARCHAR), 1, 15))::BIGINT
            / 1152921504606846976.0 AS h
          FROM events WHERE event_type = '$tp'),
        s_$tp AS (SELECT h FROM h_$tp ORDER BY h LIMIT 64)"""
      }.mkString(", ")
      val pairs = Seq(("click", "purchase"), ("view", "click"),
        ("view", "purchase"))
        .map { case (a, b) => kmvPairSql(a, b, 64) }
        .mkString(" UNION ALL ")
      s"WITH $ctes $pairs ORDER BY pair"
    })),

    // Standalone connected components over an explicit edge list (here:
    // the LSH near-dup candidate pairs — the edge set q_dedup_corpus
    // consumes internally), labeling every endpoint with the smallest
    // reachable doc_id. The Spark side is O(diameter) min-label
    // propagation joins with generation-released checkpoints
    // (Dedup.dedupClusters); the oracle is a genuinely independent
    // algorithm — a recursive-CTE reachability walk — so an
    // under-propagation bug cannot cancel out of both sides.
    "q_connected_components" -> (((s: SparkSession, dir: String) => {
      val pairs = Dedup.minhashCandidates(t(s, dir, "documents"),
        numPerms = 8, rowsPerBand = 2, maxBucket = 1000000)
      Dedup.dedupClusters(pairs)
        .select(col("doc_id"), col("cluster").as("component"))
        .orderBy("doc_id")
    }, Some {
      val bandSelects = (0 until 4).map { b =>
        val (i, j) = (2 * b, 2 * b + 1)
        val sel = s"SELECT doc_id, $b AS band, md5(sig$i::VARCHAR || '|' || sig$j::VARCHAR) AS bkey FROM sig"
        if (b == 0) sel else s"UNION ALL $sel"
      }.mkString(" ")
      val sigs = (0 until 8).map { i =>
        s"min((x * ${Dedup.minhashA(i)} + ${Dedup.minhashB(i)}) % ${Dedup.MinhashP})::BIGINT AS sig$i"
      }.mkString(", ")
      s"""WITH RECURSIVE
        w AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS tk
          FROM documents),
        sh AS (
          SELECT doc_id, unnest(list_transform(range(greatest(len(tk)-2, 1)),
            i -> array_to_string(list_slice(tk, i+1, i+3), ' '))) AS sh
          FROM w),
        hx AS (
          SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT % ${Dedup.MinhashP} AS x
          FROM sh),
        sig AS (SELECT doc_id, $sigs FROM hx GROUP BY 1),
        bands AS ($bandSelects),
        edges AS (
          SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
          FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
          WHERE a.doc_id <> b.doc_id),
        walk(node, comp) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, wk.comp FROM walk wk JOIN edges e ON e.src = wk.node)
        SELECT node AS doc_id, min(comp)::BIGINT AS component
        FROM walk GROUP BY 1 ORDER BY 1"""
    })),

    // Hybrid retrieval with reciprocal-rank fusion: a lexical ranking
    // (query-term frequency over documents) and a vector ranking (cosine
    // against one query embedding) fused by rank only — the standard
    // two-tower retrieval composition. Both input lists are top-50 with
    // a unique (score, id) total order BEFORE the cut, so the fused
    // ranks are engine-independent; each list is k-bounded, so the
    // rank windows only ever see 50 rows (the global orderings
    // themselves are TakeOrderedAndProject, never a full sort).
    "q_rrf_fusion" -> (((s: SparkSession, dir: String) => {
      val docs = t(s, dir, "documents")
      val lexTop = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tk"))
        .where(col("tk").isin("spark", "join", "table"))
        .groupBy("doc_id").agg(count(lit(1)).as("score"))
        .orderBy(col("score").desc, col("doc_id")).limit(50)
      val lexRank = lexTop.select(col("doc_id").as("id"),
        row_number().over(Window.orderBy(col("score").desc, col("doc_id")))
          .as("rank"))
      val emb = t(s, dir, "embeddings")
      val qvec = emb.where(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      val vecTop = Similarity.topKCosine(emb, qvec, 50)
      val vecRank = vecTop.select(col("vec_id").as("id"),
        row_number().over(Window.orderBy(col("cosine_sim").desc, col("vec_id")))
          .as("rank"))
      Similarity.rrfFuse(Seq(lexRank, vecRank))
        .orderBy(col("rrf_score").desc, col("id"))
        .limit(20)
        .select(col("id").as("doc_id"), col("rrf_score"), col("n_lists"))
    }, Some("""WITH lex0 AS (
        SELECT doc_id, count(*)::BIGINT AS score
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents)
        WHERE tk IN ('spark', 'join', 'table')
        GROUP BY 1),
      lextop AS (SELECT * FROM lex0 ORDER BY score DESC, doc_id LIMIT 50),
      lexr AS (SELECT doc_id AS id,
          row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
        FROM lextop),
      q AS (SELECT embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id = 0),
      vecs AS (
        SELECT vec_id,
          round(list_dot_product(embedding::DOUBLE[], q.e)
            / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               * sqrt(list_dot_product(q.e, q.e))), 6) AS cs
        FROM embeddings, q
        ORDER BY cs DESC, vec_id LIMIT 50),
      vecr AS (SELECT vec_id AS id,
          row_number() OVER (ORDER BY cs DESC, vec_id) AS rnk
        FROM vecs),
      u AS (SELECT id, rnk FROM lexr UNION ALL SELECT id, rnk FROM vecr)
      SELECT id AS doc_id,
        round(sum(1.0::DOUBLE / (60 + rnk)), 9) AS rrf_score,
        count(*)::BIGINT AS n_lists
      FROM u GROUP BY 1
      ORDER BY rrf_score DESC, doc_id LIMIT 20"""))),

    // Cross-document duplicated character windows (Lee et al. 2022
    // ExactSubstr approximation — see Dedup.duplicateWindows): per-doc
    // count and fraction of 40-char windows (stride 20) whose hash
    // appears in at least one OTHER document.
    "q_substring_dedup" -> (((s: SparkSession, dir: String) => {
      Dedup.duplicateWindows(t(s, dir, "documents"), winLen = 40, stride = 20)
        .orderBy("doc_id")
    }, Some("""WITH wins AS (
        SELECT doc_id, ('0x' || substr(md5(substr(text, i, 40)), 1, 15))::BIGINT AS h
        FROM (SELECT doc_id, text, unnest(range(1, len(text) - 38, 20)) AS i
              FROM documents WHERE len(text) >= 40)),
      dup AS (
        SELECT h FROM (
          SELECT h, count(DISTINCT doc_id) AS nd FROM wins GROUP BY 1)
        WHERE nd > 1)
      SELECT wins.doc_id,
        count(*)::BIGINT AS total_windows,
        count(dup.h)::BIGINT AS dup_windows,
        round(count(dup.h)::DOUBLE / count(*), 6) AS dup_frac
      FROM wins LEFT JOIN dup ON wins.h = dup.h
      GROUP BY 1 ORDER BY 1"""))),

    // Deterministic HyperLogLog (m=64) distinct-user estimate per event
    // type, next to the exact count — certifies the O(m)-state sketch
    // (Sketches.hllDistinctByGroup) against an oracle that replays the
    // register math bit-for-bit (bucket split, bin()-length ranks, the
    // exact integer harmonic denominator, one final double division).
    "q_hll_distinct" -> (((s: SparkSession, dir: String) => {
      val ev = t(s, dir, "events")
      val est = Sketches.hllDistinctByGroup(ev, col("event_type"),
        col("user_id"), m = 64)
      val exact = ev.groupBy(col("event_type").as("grp"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      est.join(exact, "grp").orderBy("grp")
        .select(col("grp").as("event_type"), col("hll_est"),
          col("zero_registers"), col("m"), col("exact_distinct"))
    }, Some("""WITH h AS (
        SELECT event_type AS grp,
          ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hv
        FROM events),
      b AS (SELECT grp, hv % 64 AS reg, hv // 64 AS rest FROM h),
      r AS (SELECT grp, reg,
          CASE WHEN rest = 0 THEN 55 ELSE 55 - len(bin(rest)) END AS rho
        FROM b),
      regs AS (SELECT grp, reg, max(rho) AS m_reg FROM r GROUP BY 1, 2),
      grid AS (
        SELECT grp, unnest(range(0, 64)) AS reg
        FROM (SELECT DISTINCT grp FROM h)),
      full_regs AS (
        SELECT grid.grp, coalesce(m_reg, 0) AS m_reg
        FROM grid LEFT JOIN regs ON grid.grp = regs.grp AND grid.reg = regs.reg),
      s AS (
        SELECT grp,
          sum(1::BIGINT << (55 - m_reg))::BIGINT AS denom,
          count(*) FILTER (m_reg = 0)::BIGINT AS zero_registers
        FROM full_regs GROUP BY 1),
      ex AS (
        SELECT event_type AS grp, count(DISTINCT user_id)::BIGINT AS exact_distinct
        FROM events GROUP BY 1)
      SELECT s.grp AS event_type,
        round(0.709::DOUBLE * 4096 * 36028797018963968 / denom, 3) AS hll_est,
        zero_registers, 64::BIGINT AS m, exact_distinct
      FROM s JOIN ex ON s.grp = ex.grp
      ORDER BY 1"""))),

    // BPE merge TRAINING (Sennrich et al. 2016) — the tokenizer-training
    // workload: 6 learned merges over the documents vocabulary. The
    // oracle unrolls the same 6 (count pairs → argmax → greedy rewrite)
    // rounds as CTE chains; a drift in tie-breaking, rewrite greediness,
    // or pair weighting flips the later steps.
    "q_bpe_merges" -> (((s: SparkSession, dir: String) => {
      import s.implicits._
      graft.text.Bpe.trainMerges(t(s, dir, "documents"), steps = 6)
        .toDF().orderBy("step")
    }, Some {
      val union = (0 until 6).map { k =>
        s"SELECT ${k + 1}::BIGINT AS step, a AS pair_left, b AS pair_right, a || b AS merged, c AS pair_count FROM b$k"
      }.mkString(" UNION ALL ")
      bpeCtes(6) + s" SELECT * FROM ($union) ORDER BY step"
    })),

    // BYTE-level BPE training (GPT-2-style): the same merge loop seeded
    // from space-carrying pre-tokens split into UTF-8 byte symbols
    // (2-hex-digit rendering), so merges can cross the space boundary
    // and cover any byte — no unknown symbol exists. The oracle unrolls
    // the same 6 rounds over the identical hex alphabet.
    "q_bpe_bytes" -> (((s: SparkSession, dir: String) => {
      import s.implicits._
      graft.text.Bpe.trainByteMerges(t(s, dir, "documents"), steps = 6)
        .toDF().orderBy("step")
    }, Some {
      val union = (0 until 6).map { k =>
        s"SELECT ${k + 1}::BIGINT AS step, a AS pair_left, b AS pair_right, a || b AS merged, c AS pair_count FROM b$k"
      }.mkString(" UNION ALL ")
      bpeBytesCtes(6) + s" SELECT * FROM ($union) ORDER BY step"
    })),

    // BYTE-level BPE encode: per-doc pre-token/byte/BPE-token counts
    // under the learned byte merges. As with q_bpe_encode, the oracle
    // routes through the final symbol table s6 (an independent join, not
    // a fold replay), so a fold/training divergence cannot cancel out.
    // `bytes` doubles as a losslessness check: Σ octet_length(pre-token)
    // must equal each document's exact UTF-8 length.
    "q_bpe_bytes_encode" -> (((s: SparkSession, dir: String) => {
      val docs = t(s, dir, "documents")
      val merges = graft.text.Bpe.trainByteMerges(docs, steps = 6)
      graft.text.Bpe.byteEncodeCounts(docs, merges).orderBy("doc_id")
    }, Some(bpeBytesCtes(6) + s""",
      dw AS (
        SELECT doc_id, word
        FROM (SELECT doc_id, $byteTokensSql AS word
              FROM (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents))
        WHERE len(word) > 0)
      SELECT doc_id, count(*)::BIGINT AS pretokens,
        sum(octet_length(encode(dw.word)))::BIGINT AS bytes,
        sum(len(s6.syms))::BIGINT AS bpe_tokens
      FROM dw JOIN s6 ON dw.word = s6.word
      GROUP BY 1 ORDER BY 1"""))),

    // Tokenizer fertility by language — the tokenizer-fairness metric
    // (how many bytes one BPE token covers, per detected language): a
    // byte-trained vocabulary compresses its dominant language best, and
    // this per-language bytes/token table is the standard evidence.
    // Composes the langId gate with byte-level BPE encode; the oracle
    // composes the two queries' independent routes (stopword-argmax CTE
    // + the s6 symbol-table join) and reduces to a 5-row group-by —
    // metadata-sized output from two corpus passes + vocab-sized
    // training, whatever the corpus size.
    "q_tokenizer_fertility" -> (((s: SparkSession, dir: String) => {
      val docs = t(s, dir, "documents")
      val merges = graft.text.Bpe.trainByteMerges(docs, steps = 6)
      val counts = graft.text.Bpe.byteEncodeCounts(docs, merges)
      val langs = docs.select(col("doc_id"),
        graft.text.TextAnalysis.langId(col("text")).as("lang_pred"))
      counts.join(langs, "doc_id")
        .groupBy("lang_pred")
        .agg(count(lit(1)).as("docs"),
          sum("bytes").as("bytes"),
          sum("bpe_tokens").as("bpe_tokens"))
        .withColumn("bytes_per_token",
          round(col("bytes").cast("double") / col("bpe_tokens"), 6))
        .orderBy("lang_pred")
    }, Some {
      val langs = graft.text.TextAnalysis.stopwords.keys.toSeq.sorted
      def hits(l: String) = {
        val words = graft.text.TextAnalysis.stopwords(l)
          .map(w => s"'$w'").mkString(", ")
        s"len(list_filter(list_filter(string_split(lower(text), ' '), x -> len(x) > 0), t -> list_contains([$words], t)))"
      }
      val scores = langs.map(l => s"${hits(l)} AS s_$l").mkString(", ")
      val best = "greatest(" + langs.map(l => s"s_$l").mkString(", ") + ")"
      val cases = langs.map(l => s"WHEN best > 0 AND s_$l = best THEN '$l'")
        .mkString(" ")
      bpeBytesCtes(6) + s""",
      dw AS (
        SELECT doc_id, word
        FROM (SELECT doc_id, $byteTokensSql AS word
              FROM (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents))
        WHERE len(word) > 0),
      pc AS (
        SELECT doc_id,
          sum(octet_length(encode(dw.word)))::BIGINT AS bytes,
          sum(len(s6.syms))::BIGINT AS bpe_tokens
        FROM dw JOIN s6 ON dw.word = s6.word GROUP BY 1),
      sc AS (SELECT doc_id, $scores FROM documents),
      b AS (SELECT doc_id, s_de, s_en, s_es, s_fr, $best AS best FROM sc),
      lp AS (SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred FROM b)
      SELECT lang_pred, count(*)::BIGINT AS docs,
        sum(bytes)::BIGINT AS bytes, sum(bpe_tokens)::BIGINT AS bpe_tokens,
        round(sum(bytes)::DOUBLE / sum(bpe_tokens), 6) AS bytes_per_token
      FROM pc JOIN lp USING (doc_id)
      GROUP BY 1 ORDER BY 1"""
    })),

    // BPE ENCODE under the learned merges: per-doc word/char/BPE-token
    // counts — the number a token-budgeted batcher consumes. The Spark
    // side applies the merge list as nested scan-stage folds per word;
    // the oracle takes an INDEPENDENT route (join each doc word to the
    // final vocabulary symbol table s6), so a fold/training divergence
    // cannot cancel out of both sides.
    "q_bpe_encode" -> (((s: SparkSession, dir: String) => {
      val docs = t(s, dir, "documents")
      val merges = graft.text.Bpe.trainMerges(docs, steps = 6)
      graft.text.Bpe.encodeCounts(docs, merges).orderBy("doc_id")
    }, Some(bpeCtes(6) + """,
      dw AS (
        SELECT doc_id, word
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
              FROM documents)
        WHERE len(word) > 0)
      SELECT doc_id, count(*)::BIGINT AS words,
        sum(len(dw.word))::BIGINT AS chars,
        sum(len(s6.syms))::BIGINT AS bpe_tokens
      FROM dw JOIN s6 ON dw.word = s6.word
      GROUP BY 1 ORDER BY 1"""))),

    // BPE tokenize-then-pack: the end-to-end training-layout step —
    // per-doc BPE token counts (+1 separator) packed into fixed 64-token
    // blocks via the distributed prefix sum. The oracle routes the
    // counts through the s6 symbol table (independent of the Spark-side
    // fold) and replays the packing as one window + unnest.
    "q_bpe_blocks" -> (((s: SparkSession, dir: String) => {
      val docs = t(s, dir, "documents")
      val merges = graft.text.Bpe.trainMerges(docs, steps = 6)
      val counts = graft.text.Bpe.encodeCounts(docs, merges)
      val assigned = graft.text.TokenBlocks.assign(
        counts, "doc_id", col("bpe_tokens") + 1, blockTokens = 64)
      graft.text.TokenBlocks.manifest(assigned, 64)
        .select(col("block_id"), col("doc_id"), col("off_in_block"), col("len"))
    }, Some(bpeCtes(6) + """,
      dw AS (
        SELECT doc_id, word
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
              FROM documents)
        WHERE len(word) > 0),
      bt AS (
        SELECT doc_id, (sum(len(s6.syms)) + 1)::BIGINT AS w,
               md5(doc_id::VARCHAR) AS h
        FROM dw JOIN s6 ON dw.word = s6.word GROUP BY 1),
      c AS (
        SELECT doc_id, w,
               coalesce(sum(w) OVER (ORDER BY h, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
                 AS start
        FROM bt),
      m AS (
        SELECT doc_id, w, start,
               unnest(range(start // 64, (start + w - 1) // 64 + 1))::BIGINT
                 AS block_id
        FROM c)
      SELECT block_id, doc_id,
             greatest(start - block_id * 64, 0) AS off_in_block,
             least(start + w, (block_id + 1) * 64)
               - greatest(start, block_id * 64) AS len
      FROM m"""))),

    // Kneser–Ney bigram perplexity filter (CCNet-style LM quality gate):
    // per-doc mean log10 P_KN over adjacent bigrams + keep verdict. The
    // oracle rebuilds the model tables and the score in the SAME
    // association order — max(c−D,0)/c1 + (D·fan1/c1)·(cont2/nbi) — so
    // the doubles are bit-identical before the 9/6-digit rounds.
    "q_perplexity_filter" -> (((s: SparkSession, dir: String) => {
      graft.text.TextAnalysis.knDocScores(t(s, dir, "documents"))
        .orderBy("doc_id")
    }, Some("""WITH tok AS (
        SELECT doc_id, list_filter(string_split(text, ' '),
          x -> len(x) > 0) AS t
        FROM documents),
      dp AS (
        SELECT doc_id, pr.w1 AS w1, pr.w2 AS w2
        FROM (SELECT doc_id, unnest(list_transform(range(1, len(t)),
                i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS pr
              FROM tok WHERE len(t) > 1)),
      cnt AS (SELECT w1, w2, count(*)::BIGINT AS cnt FROM dp GROUP BY 1, 2),
      lft AS (SELECT w1, sum(cnt)::BIGINT AS c1, count(*)::BIGINT AS fan1
              FROM cnt GROUP BY 1),
      ct  AS (SELECT w2, count(*)::BIGINT AS cont2 FROM cnt GROUP BY 1),
      nb  AS (SELECT count(*)::BIGINT AS nbi FROM cnt),
      sc AS (
        SELECT dp.doc_id,
          round(log10(greatest(cnt.cnt - 0.75, 0.0) / lft.c1
            + (0.75 * lft.fan1 / lft.c1) * (ct.cont2::DOUBLE / nb.nbi)), 9)
            AS lp
        FROM dp JOIN cnt USING (w1, w2) JOIN lft USING (w1)
                JOIN ct USING (w2), nb)
      SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        round(avg(lp), 6) AS kn_logprob,
        (round(avg(lp), 6) >= -1.4755) AS kept
      FROM sc GROUP BY 1 ORDER BY 1"""))),

    // Strict-ordering conversion funnel view → click → purchase: earliest
    // stage-1 time per user, then the earliest stage-2 event strictly
    // after it, etc. Every shuffle keys on user_id (agg + joins reuse one
    // partitioning); per-user state is one row of stage timestamps, never
    // the event history — the property that holds for a 10^8-event user.
    "q_funnel" -> (((s: SparkSession, dir: String) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        col("event_type"), expr("ts_ns DIV 1000").as("us"))
      graft.ops.EventAnalytics
        .funnel(ev, "user_id", "event_type", "us",
          Seq("view", "click", "purchase"))
        .select(col("user_id"), col("t1").as("t1_us"),
          col("t2").as("t2_us"), col("t3").as("t3_us"), col("reached"))
        .orderBy("user_id")
    }, Some("""WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      v AS (SELECT user_id, min(us)::BIGINT AS t1_us FROM ev
            WHERE event_type = 'view' GROUP BY 1),
      c AS (SELECT ev.user_id, min(us)::BIGINT AS t2_us
            FROM ev JOIN v USING (user_id)
            WHERE event_type = 'click' AND us > t1_us GROUP BY 1),
      p AS (SELECT ev.user_id, min(us)::BIGINT AS t3_us
            FROM ev JOIN c USING (user_id)
            WHERE event_type = 'purchase' AND us > t2_us GROUP BY 1)
      SELECT v.user_id, t1_us, t2_us, t3_us,
        (1 + CASE WHEN t2_us IS NULL THEN 0 ELSE 1 END
           + CASE WHEN t3_us IS NULL THEN 0 ELSE 1 END)::BIGINT AS reached
      FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
      ORDER BY 1"""))),

    // Deadline (conversion-window) funnel: each stage must land within
    // 48 h of the previous stage's finalized time — the attribution-
    // window semantics ad/commerce funnels actually use. Same shuffle
    // shape as q_funnel; only the qualifying predicate narrows.
    "q_funnel_deadline" -> (((s: SparkSession, dir: String) => {
      val ev = t(s, dir, "events").select(col("user_id"),
        col("event_type"), expr("ts_ns DIV 1000").as("us"))
      graft.ops.EventAnalytics
        .funnel(ev, "user_id", "event_type", "us",
          Seq("view", "click", "purchase"), maxGap = Some(172800000000L))
        .select(col("user_id"), col("t1").as("t1_us"),
          col("t2").as("t2_us"), col("t3").as("t3_us"), col("reached"))
        .orderBy("user_id")
    }, Some("""WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      v AS (SELECT user_id, min(us)::BIGINT AS t1_us FROM ev
            WHERE event_type = 'view' GROUP BY 1),
      c AS (SELECT ev.user_id, min(us)::BIGINT AS t2_us
            FROM ev JOIN v USING (user_id)
            WHERE event_type = 'click' AND us > t1_us
              AND us <= t1_us + 172800000000 GROUP BY 1),
      p AS (SELECT ev.user_id, min(us)::BIGINT AS t3_us
            FROM ev JOIN c USING (user_id)
            WHERE event_type = 'purchase' AND us > t2_us
              AND us <= t2_us + 172800000000 GROUP BY 1)
      SELECT v.user_id, t1_us, t2_us, t3_us,
        (1 + CASE WHEN t2_us IS NULL THEN 0 ELSE 1 END
           + CASE WHEN t3_us IS NULL THEN 0 ELSE 1 END)::BIGINT AS reached
      FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
      ORDER BY 1"""))),

    // Weekly cohort retention: cohort = week of first activity, counted
    // at each later active week offset. Integer epoch-day math end to
    // end (no calendar anchoring), output is cohorts × offsets —
    // metadata-sized at any input scale.
    "q_retention" -> (((s: SparkSession, dir: String) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), expr("ts_ns DIV 86400000000000").as("day"))
      graft.ops.EventAnalytics
        .weeklyRetention(ev, "user_id", col("day"))
        .orderBy("cohort_week", "week_offset")
    }, Some("""WITH ev AS (
        SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      first AS (SELECT user_id, min(day) AS d0 FROM ev GROUP BY 1)
      SELECT (d0 // 7)::BIGINT AS cohort_week,
        ((day - d0) // 7)::BIGINT AS week_offset,
        count(DISTINCT ev.user_id)::BIGINT AS active_users
      FROM ev JOIN first USING (user_id)
      GROUP BY 1, 2 ORDER BY 1, 2"""))),

    // Sliding 7-day distinct users via HLL sketch MERGE: the raw input
    // collapses once to per-day registers (≤64 rows/day); windows merge
    // day sketches by max — day-grain metadata — instead of re-shuffling
    // every raw row per overlapping window. exact_distinct rides along
    // as certification (the path the sketch exists to avoid at 100 TB).
    "q_hll_window" -> (((s: SparkSession, dir: String) => {
      val days = t(s, dir, "events")
        .select(col("user_id"), expr("ts_ns DIV 86400000000000").as("day"))
      val est = Sketches.hllSlidingDistinct(days, col("day"),
        col("user_id"), windowDays = 7)
      val obs = days.select("day").distinct().withColumnRenamed("day", "wend")
      val exact = days
        .withColumn("wend", explode(sequence(col("day"), col("day") + 6)))
        .join(obs, Seq("wend"), "left_semi")
        .groupBy("wend").agg(countDistinct("user_id").as("exact_distinct"))
      est.join(exact, est("day") === exact("wend"))
        .select(est("day"), col("hll_est"), col("zero_registers"),
          col("m"), col("exact_distinct"))
        .orderBy("day")
    }, Some("""WITH h AS (
        SELECT epoch_us(ts) // 86400000000 AS day,
          ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hv
        FROM events),
      b AS (SELECT day, hv % 64 AS reg, hv // 64 AS rest FROM h),
      r AS (SELECT day, reg,
          CASE WHEN rest = 0 THEN 55 ELSE 55 - len(bin(rest)) END AS rho
        FROM b),
      dayregs AS (SELECT day, reg, max(rho) AS m_reg FROM r GROUP BY 1, 2),
      obs AS (SELECT DISTINCT day FROM h),
      fan AS (SELECT o.day AS wend, d.reg, d.m_reg
              FROM dayregs d JOIN obs o ON o.day BETWEEN d.day AND d.day + 6),
      wregs AS (SELECT wend, reg, max(m_reg) AS m_reg FROM fan GROUP BY 1, 2),
      grid AS (SELECT wend, unnest(range(0, 64)) AS reg
               FROM (SELECT DISTINCT wend FROM wregs)),
      full_regs AS (SELECT grid.wend, coalesce(m_reg, 0) AS m_reg
        FROM grid LEFT JOIN wregs
          ON grid.wend = wregs.wend AND grid.reg = wregs.reg),
      s AS (SELECT wend,
          sum(1::BIGINT << (55 - m_reg))::BIGINT AS denom,
          count(*) FILTER (m_reg = 0)::BIGINT AS zero_registers
        FROM full_regs GROUP BY 1),
      ex AS (SELECT o.day AS wend,
          count(DISTINCT e.user_id)::BIGINT AS exact_distinct
        FROM (SELECT user_id, epoch_us(ts) // 86400000000 AS day
              FROM events) e
        JOIN obs o ON o.day BETWEEN e.day AND e.day + 6
        GROUP BY 1)
      SELECT s.wend AS day,
        round(0.709::DOUBLE * 4096 * 36028797018963968 / denom, 3) AS hll_est,
        zero_registers, 64::BIGINT AS m, exact_distinct
      FROM s JOIN ex USING (wend) ORDER BY 1"""))),

    // Per-domain document cap (the crawl-corpus balancing step: at most K
    // docs per source, best-first) as the PLAIN declarative window —
    // deliberately. Spark 4's InferWindowGroupLimit rewrites a
    // `row_number() <= K` filter into a partial-mode WindowGroupLimit
    // BEFORE the exchange (a bounded per-key heap on the map side), so
    // at most K rows per source per input partition ever cross the
    // shuffle: a Zipf-head domain's reducer sorts ≤ K·maps rows, not the
    // domain. Measured against Skew.saltedTopKPerKey on a staged
    // hot-domain table (d15): the direct window wins 2× — Catalyst's
    // rank-limit pushdown subsumes manual salting here.
    "q_domain_cap" -> (((s: SparkSession, dir: String) => {
      val w = Window.partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id"))
      t(s, dir, "documents").select("doc_id", "source", "n_chars")
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 10)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("rnk").cast("long").as("rnk"))
        .orderBy("source", "rnk")
    }, Some("""SELECT doc_id, source, n_chars, rnk FROM (
        SELECT doc_id, source, n_chars,
          row_number() OVER (PARTITION BY source
            ORDER BY n_chars DESC, doc_id)::BIGINT AS rnk
        FROM documents)
      WHERE rnk <= 10 ORDER BY source, rnk"""))),

    // The SQL surface end-to-end (graft.sql.GraftSql): a curation
    // pipeline written ENTIRELY in spark.sql — token accounting, quality
    // scoring, dedup fingerprints and URL domain keys through registered
    // graft_* functions. The functions expand to the same Catalyst trees
    // the Scala API builds (SqlSurfaceSpec pins the plans bit-equal), so
    // this row certifies the registration + expansion plumbing against
    // the independent DuckDB replay of the underlying expressions.
    // Quality sums in exact micro-units (round(q*1e6) per doc, BIGINT
    // sum) — q is already round-6 so the micro value is integer-exact.
    // The synthesized 3-label hosts never hit a multi-part suffix, so
    // the oracle's registered-domain replay is the plain last-two-labels
    // arm of the heuristic.
    "q_sql_pipeline" -> (((s: SparkSession, dir: String) => {
      graft.sql.GraftSql.register(s)
      t(s, dir, "documents").createOrReplaceTempView("gsql_docs")
      s.sql("""SELECT lang,
          count(1) AS n_docs,
          sum(graft_token_count(text)) AS tokens,
          sum(CAST(round(graft_quality(text) * 1000000, 0) AS BIGINT))
            AS quality_micros,
          count(DISTINCT graft_fingerprint(text)) AS n_fingerprints,
          count(DISTINCT graft_registered_domain(graft_url_host(
            concat('https://www.Example-', source, '.COM:443/p/', doc_id))))
            AS n_domains
        FROM gsql_docs GROUP BY lang ORDER BY lang""")
    }, Some {
      val toks = "list_filter(string_split(text, ' '), x -> len(x) > 0)"
      val fp = "md5(array_to_string(list_sort(list_distinct(" +
        "list_filter(string_split(lower(text), ' '), x -> len(x) > 0))), ' '))"
      val host = "regexp_replace(regexp_replace(regexp_replace(lower(" +
        "regexp_extract('https://www.Example-' || source || '.COM:443/p/' " +
        "|| doc_id, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), " +
        "'^[^@]*@', ''), ':[0-9]*$', ''), '\\.$', '')"
      s"""WITH hosts AS (
        SELECT lang, text, string_split($host, '.') AS hp FROM documents)
      SELECT lang, count(*)::BIGINT AS n_docs,
        sum(len($toks))::BIGINT AS tokens,
        sum(CAST(round(${Queries.qualityExprSql} * 1000000, 0) AS BIGINT))::BIGINT
          AS quality_micros,
        count(DISTINCT $fp)::BIGINT AS n_fingerprints,
        count(DISTINCT hp[len(hp)-1] || '.' || hp[len(hp)])::BIGINT AS n_domains
      FROM hosts GROUP BY lang ORDER BY lang"""
    })),

    // The SQL surface's REDACTION + per-doc-repetitiveness arm
    // (q_sql_pipeline's complement): pii_scrub,
    // repetition, entropy, the 64-bit SimHash bands and the
    // mixed-script count, all invoked from ONE spark.sql string over
    // registered graft_* functions. The scalar forms fold per row
    // (order-free integer-quantized arithmetic), so the independent
    // DuckDB replay can use the aggregate formulations — the same
    // fragments the standalone q_pii_scrub / q_repetition /
    // q_doc_entropy / q_simhash_pairs oracles run — and still hash
    // identical values. PII is planted per doc exactly as q_pii_scrub
    // plants it, so the scrub has something to redact.
    "q_sql_redact" -> (((s: SparkSession, dir: String) => {
      graft.sql.GraftSql.register(s)
      t(s, dir, "documents").createOrReplaceTempView("gsql_docs")
      s.sql("""WITH sigs AS (
          SELECT doc_id,
            graft_pii_scrub(concat(text, ' contact user', doc_id,
              '@example.com from 10.20.', doc_id % 256, '.7 call +1 555 01',
              doc_id % 90 + 10, ' now')) AS scrubbed,
            graft_repetition(text) AS rep_ratio,
            graft_entropy(text) AS entropy,
            graft_simhash64(text) AS sig,
            graft_mixed_script_count(text) AS mixed_script
          FROM gsql_docs)
        SELECT doc_id, md5(scrubbed) AS scrubbed_md5, rep_ratio, entropy,
          array_join(transform(sig, v -> cast(v AS string)), ',')
            AS simhash_bands,
          mixed_script
        FROM sigs ORDER BY doc_id""")
    }, Some(s"""WITH ${ExtraQueries.simhashBandsSql(4)},
        etok AS (
          SELECT doc_id, unnest(list_filter(string_split(text, ' '),
            x -> len(x) > 0)) AS term
          FROM documents),
        ec AS (SELECT doc_id, term, count(*)::BIGINT AS c
               FROM etok GROUP BY 1, 2),
        ent AS (SELECT doc_id,
            round(log2(sum(c)) - (sum(round(c * log2(c) * 1e9, 0)::BIGINT)
              / 1e9) / sum(c), 6) AS entropy
          FROM ec GROUP BY 1),
        rw AS (SELECT doc_id, list_filter(string_split(text, ' '),
            x -> len(x) > 0) AS tk
          FROM documents),
        rg AS (SELECT doc_id, unnest(list_transform(
            range(greatest(len(tk)-2, 1)),
            i -> array_to_string(list_slice(tk, i+1, i+3), ' '))) AS g
          FROM rw),
        rc AS (SELECT doc_id, g, count(*)::BIGINT AS c FROM rg GROUP BY 1, 2),
        rep AS (SELECT doc_id, round(max(c)::DOUBLE / sum(c)::DOUBLE, 6)
              AS rep_ratio
          FROM rc GROUP BY 1)
      SELECT d.doc_id,
        md5(regexp_replace(regexp_replace(regexp_replace(
          d.text || ' contact user' || d.doc_id
            || '@example.com from 10.20.' || (d.doc_id % 256)
            || '.7 call +1 555 01' || (d.doc_id % 90 + 10) || ' now',
          '${graft.text.TextAnalysis.PiiEmail}', '<EMAIL>', 'g'),
          '${graft.text.TextAnalysis.PiiIpv4}', '<IP>', 'g'),
          '${graft.text.TextAnalysis.PiiDigitRun}', '<PHONE>', 'g'))
          AS scrubbed_md5,
        rep.rep_ratio, ent.entropy,
        b.b0 || ',' || b.b1 || ',' || b.b2 || ',' || b.b3 AS simhash_bands,
        len(regexp_extract_all(d.text,
          '${graft.text.TextAnalysis.MixedScriptRe}'))::BIGINT
          AS mixed_script
      FROM documents d
      LEFT JOIN ent ON d.doc_id = ent.doc_id
      LEFT JOIN rep ON d.doc_id = rep.doc_id
      LEFT JOIN bands b ON d.doc_id = b.doc_id
      ORDER BY d.doc_id"""))),

    // HTML → text extraction (graft.text.Html.htmlExtract): every doc
    // wrapped into a deterministic page (head/title, style block, a
    // 3-link nav bar, h1, the text as <p> blocks, a script tag, a
    // 2-link footer with an &amp; entity), then the full extraction
    // pipeline — container drop, block segmentation, tag strip,
    // whitespace collapse, entity decode. Pure scan-side scalar work
    // (regex star-height 1, no backtracking cliff); the oracle replays
    // the IDENTICAL pattern table via Html.extractSql, so the md5 pins
    // the two engines byte-equal on every page.
    "q_html_extract" -> (((s: SparkSession, dir: String) => {
      import graft.text.Html
      val html = MoreQueries.docHtml
      t(s, dir, "documents")
        .select(col("doc_id"), Html.htmlExtract(html).as("clean"))
        .select(col("doc_id"), md5(col("clean")).as("clean_md5"),
          length(col("clean")).cast("long").as("clean_chars"))
        .orderBy("doc_id")
    }, Some(s"""SELECT doc_id, md5(clean) AS clean_md5,
        length(clean)::BIGINT AS clean_chars
      FROM (SELECT doc_id, ${graft.text.Html.extractSql(docHtmlSql)} AS clean
            FROM documents)
      ORDER BY doc_id"""))),

    // Main-text extraction (Html.htmlMainText): the link-density gate on
    // top of the same block segmentation — a block survives only with
    // ≥40 chars of stripped text per <a anchor, so the nav bar (3 links,
    // ~16 chars) and footer (2 links, ~19 chars) die while the h1, the
    // <p> content and the single-link long paragraph survive. blocks_kept
    // certifies the gate decision count page by page, the md5 the
    // surviving bytes.
    "q_html_main" -> (((s: SparkSession, dir: String) => {
      import graft.text.Html
      val html = MoreQueries.docHtml
      t(s, dir, "documents")
        .select(col("doc_id"), Html.htmlMainText(html).as("main"),
          Html.mainBlocksKept(html).cast("long").as("blocks_kept"))
        .select(col("doc_id"), md5(col("main")).as("main_md5"),
          length(col("main")).cast("long").as("main_chars"),
          col("blocks_kept"))
        .orderBy("doc_id")
    }, Some(s"""SELECT doc_id, md5(main) AS main_md5,
        length(main)::BIGINT AS main_chars, blocks_kept
      FROM (SELECT doc_id, ${graft.text.Html.mainTextSql(docHtmlSql)} AS main,
              ${graft.text.Html.mainBlocksKeptSql(docHtmlSql)}::BIGINT
                AS blocks_kept
            FROM documents)
      ORDER BY doc_id"""))),

    // The crawl-ingest pipeline END TO END: page → main text (the
    // link-density gate) → the fused signals struct (lang-ID, token
    // count, quality in ONE tokenization pass) → per-source corpus
    // accounting. This is the composition a 100 TB ingest actually runs
    // — markup in, curation signals out — and it certifies the new front
    // door COMPOSES with the existing gates: every fragment of the
    // oracle (mainTextSql, langScores/Best/Cases, qualityExprSql) is the
    // same shared definition its standalone row uses, spliced over the
    // extracted text instead of `documents.text`. Quality in exact
    // integer micros; the whole per-doc stage is scan-side scalar work,
    // one partial-agg shuffle on source.
    "q_crawl_ingest" -> (((s: SparkSession, dir: String) => {
      import graft.text.{Html, TextAnalysis}
      // block joints flattened to spaces: the signal fragments are
      // space-tokenizer contracts (string_split(text, ' ') in the
      // oracle, \s+ in the library — equal only on single-line text)
      val pages = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          replace(Html.htmlMainText(docHtml), lit("\n"), lit(" "))
            .as("text"))
      pages
        // explodeOnce: without the Generate barrier the 3 field
        // extractions inline 3 copies of signals — each carrying the
        // whole htmlMainText extraction with it (see ColumnUtil)
        .select(col("source"),
          graft.ColumnUtil.explodeOnce(
            TextAnalysis.signals(col("text"))).as("s"))
        .select(col("source"), col("s.lang_pred").as("lang_pred"),
          col("s.tok_cnt").as("tok_cnt"), col("s.quality").as("quality"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tok_cnt")).cast("long").as("tokens"),
          sum(when(col("lang_pred") === "en", 1L).otherwise(0L)).as("n_en"),
          sum(round(col("quality") * 1000000, 0).cast("long"))
            .as("quality_micros"))
        .orderBy("source")
    }, Some(s"""WITH pages AS (
        SELECT doc_id, source,
          replace(${graft.text.Html.mainTextSql(docHtmlSql)}, chr(10), ' ')
            AS text
        FROM documents),
      sc AS (SELECT doc_id, source, text, ${Queries.langScoresSql}
             FROM pages),
      b AS (SELECT doc_id, source, text, s_de, s_en, s_es, s_fr,
          ${Queries.langBestSql} AS best FROM sc),
      lang AS (SELECT doc_id, source, text,
          CASE ${Queries.langCasesSql} ELSE 'und' END AS lang_pred FROM b)
      SELECT source, count(*)::BIGINT AS n_docs,
        sum(len(list_filter(string_split(text, ' '), x -> len(x) > 0)))::BIGINT
          AS tokens,
        sum(CASE WHEN lang_pred = 'en' THEN 1 ELSE 0 END)::BIGINT AS n_en,
        sum(CAST(round(${Queries.qualityExprSql} * 1000000, 0) AS BIGINT))::BIGINT
          AS quality_micros
      FROM lang GROUP BY source ORDER BY source"""))),

    // The same front door as a STREAM: crawl firehose → main-text
    // extraction → fused signals, through a real AvailableNow
    // micro-batch run (file source staged from the documents table,
    // parquet sink + checkpoint). The per-doc stage is STATELESS scalar
    // work — no watermark, no state store, no sentinel needed; state is
    // zero regardless of stream length, which is the 100 TB property
    // (a quality gate on an ingest firehose must never accumulate). The
    // oracle is the batch replay of the identical per-doc signal rows —
    // certifying stream ≡ batch for the whole extraction+signals chain.
    "q_stream_ingest" -> (((s: SparkSession, dir: String) => {
      import graft.text.{Html, TextAnalysis}
      import org.apache.spark.sql.streaming.Trigger
      val stage = ExtraQueries.tmp("stream_ingest_in", dir)
      val sink = ExtraQueries.tmp("stream_ingest_out", dir)
      val ckpt = ExtraQueries.tmp("stream_ingest_ckpt", dir)
      Seq(stage, sink, ckpt).foreach(ExtraQueries.rmrf)
      new java.io.File(stage).mkdirs()
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/documents.parquet"),
        java.nio.file.Paths.get(s"$stage/documents.parquet"))
      val raw = s.read.parquet(s"$dir/documents.parquet").schema
      val stream = s.readStream.schema(raw).parquet(s"$stage/*.parquet")
      val pages = stream.select(col("doc_id"), col("source"),
        replace(Html.htmlMainText(docHtml), lit("\n"), lit(" ")).as("text"))
      val out = pages
        // explodeOnce: same 3-copy inlining as q_crawl_ingest (Generate
        // is supported in streaming plans; the stream stays stateless)
        .select(col("doc_id"), col("source"),
          graft.ColumnUtil.explodeOnce(
            TextAnalysis.signals(col("text"))).as("s"))
        .select(col("doc_id"), col("source"),
          col("s.lang_pred").as("lang_pred"),
          col("s.tok_cnt").cast("long").as("tok_cnt"),
          round(col("s.quality") * 1000000, 0).cast("long")
            .as("quality_micros"))
      val q = out.writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      // bounded wait: a wedged micro-batch must fail THIS row, not hang
      // the whole correctness run
      try {
        ExtraQueries.awaitBounded(q)
        s.read.parquet(sink).orderBy("doc_id").localCheckpoint()
      } finally {
        // the sink is localCheckpoint-materialized above, so the staged
        // input/sink/checkpoint dirs can go now instead of accumulating
        // across repeated runs (the pre-clean at the top only covers the
        // NEXT run of this same query)
        Seq(stage, sink, ckpt).foreach(ExtraQueries.rmrf)
      }
    }, Some(s"""WITH pages AS (
        SELECT doc_id, source,
          replace(${graft.text.Html.mainTextSql(docHtmlSql)}, chr(10), ' ')
            AS text
        FROM documents),
      sc AS (SELECT doc_id, source, text, ${Queries.langScoresSql}
             FROM pages),
      b AS (SELECT doc_id, source, text, s_de, s_en, s_es, s_fr,
          ${Queries.langBestSql} AS best FROM sc),
      lang AS (SELECT doc_id, source, text,
          CASE ${Queries.langCasesSql} ELSE 'und' END AS lang_pred FROM b)
      SELECT doc_id, source, lang_pred,
        len(list_filter(string_split(text, ' '), x -> len(x) > 0))::BIGINT
          AS tok_cnt,
        CAST(round(${Queries.qualityExprSql} * 1000000, 0) AS BIGINT)
          AS quality_micros
      FROM lang ORDER BY doc_id"""))),

    // Streaming NEAR-dup ingest: the continuous
    // composition of the crawl front door with the incremental near-dup
    // pass — scan-side graft_minhash_bands keys into a
    // flatMapGroupsWithState keyed on the (band, bucket) with bounded
    // per-bucket state (StreamDedup.nearDupPairs). One AvailableNow run
    // (maxFilesPerTrigger=1) stages the q_dedup_incr_near corpus
    // split as a STREAM — history docs in micro-batch 1, the new batch
    // (plus 40 almost-identical re-crawls) in micro-batch 2 — so the
    // emitted pairs must equal the batch incremental replay pair for
    // pair. The
    // oracle reuses q_dedup_incr_near's banding replay with the verify
    // intersected on distinct 60-bit shingle HASHES (what the stream's
    // state holds — see the StreamDedup scaladoc).
    "q_stream_neardup" -> (((s: SparkSession, dir: String) => {
      import graft.streaming.StreamDedup
      import org.apache.spark.sql.streaming.Trigger
      val stage = ExtraQueries.tmp("stream_neardup_in", dir)
      val sink = ExtraQueries.tmp("stream_neardup_out", dir)
      val ckpt = ExtraQueries.tmp("stream_neardup_ckpt", dir)
      Seq(stage, sink, ckpt).foreach(ExtraQueries.rmrf)
      new java.io.File(stage).mkdirs()
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val history = docs.where(col("doc_id") % 3 === 0)
      val batch = docs.where(col("doc_id") % 3 =!= 0)
        .unionByName(t(s, dir, "documents")
          .where(col("doc_id") % 3 === 0 && col("doc_id") < 120)
          .select((col("doc_id") + lit(5000000L)).as("doc_id"),
            concat(col("text"), lit(" graftzz")).as("text")))
      // stage one parquet FILE per micro-batch (the file source treats
      // each newly-seen file as new data against the shared checkpoint)
      def stageFile(df: DataFrame, name: String): Unit = {
        val tmpd = s"$stage/_w_$name"
        df.coalesce(1).write.mode("overwrite").parquet(tmpd)
        val part = new java.io.File(tmpd).listFiles()
          .find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file under $tmpd"))
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(s"$stage/$name.parquet"))
        ExtraQueries.rmrf(tmpd)
      }
      def runOnce(): Unit = {
        // maxFilesPerTrigger=1: ONE AvailableNow run processes the two
        // staged files as two micro-batches (oldest mod-time first, the
        // d25b discipline) — the same batch boundaries the previous
        // two-run shape produced, minus a full stream start + checkpoint
        // setup (~1.5 s of fixed machinery).
        // q_stream_restart separately certifies checkpoint resume.
        val stream = s.readStream
          .schema("doc_id BIGINT, text STRING")
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$stage/*.parquet")
        val es = graft.streaming.EventStreams
        es.withStagedState(s, stage) {
          val q = StreamDedup.nearDupPairs(stream, threshold = 0.8,
              maxBucket = 1000000)
            .writeStream.format("parquet")
            .option("path", sink).option("checkpointLocation", ckpt)
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
          ExtraQueries.awaitBounded(q)
        }
      }
      try {
        stageFile(history, "hist")
        stageFile(batch, "batch")
        // explicit mod-time order: the file source triggers oldest
        // first, and sub-ms writes could otherwise tie
        new java.io.File(s"$stage/hist.parquet").setLastModified(1000000000000L)
        new java.io.File(s"$stage/batch.parquet").setLastModified(1000000060000L)
        runOnce() // micro-batch 1: history; micro-batch 2: the batch
        // a pair colliding in >1 band emits once per band with the SAME
        // verified jaccard — distinct is the batch path's `.distinct()`
        s.read.parquet(sink)
          .select(col("batch_id").cast("long").as("batch_id"),
            col("hist_id").cast("long").as("hist_id"), col("jaccard"))
          .distinct()
          .orderBy("batch_id", "hist_id").localCheckpoint()
      } finally Seq(stage, sink, ckpt).foreach(ExtraQueries.rmrf)
    }, Some {
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
      sig AS (SELECT did, ${Queries.minhashSigSql(8)} FROM hx GROUP BY 1),
      bands AS ($bandSelects),
      pairs AS (
        SELECT DISTINCT a.did AS da, b.did AS db
        FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
        WHERE a.did LIKE 'b:%' AND b.did LIKE 'h:%'),
      shh AS (
        SELECT DISTINCT did, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h
        FROM sh),
      sizes AS (SELECT did, count(*)::BIGINT AS sz FROM shh GROUP BY 1),
      inter AS (
        SELECT p.da, p.db, count(*)::BIGINT AS inter
        FROM pairs p
        JOIN shh a ON a.did = p.da
        JOIN shh b ON b.did = p.db AND a.h = b.h
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
      FROM j WHERE round(jac, 6) >= 0.8
      ORDER BY batch_id, hist_id"""
    })),

    // The streaming crawl FRONT DOOR: ingest →
    // exact-dedup → near-dup flag as ONE stream graph
    // (StreamDedup.frontDoor). Raw crawl pages (crawl_id, html) stream
    // through main-text extraction (the q_stream_ingest contract) into
    // a single flatMapGroupsWithState that runs BOTH dedup stages
    // against the LSH bucket state: byte-identical pages map to their
    // canonical earliest arrival (exact), exact-survivors
    // Jaccard-verify against earlier micro-batches (near). One
    // AvailableNow run (maxFilesPerTrigger=1) stages history pages
    // then a crawl batch carrying three planted classes — ' graftzz' near re-crawls,
    // byte-identical history re-crawls, intra-batch page dups — and the
    // sink folds to one verdict per crawled page. The oracle replays
    // the whole composition: page synthesis → main-text extraction →
    // hash-canonical exact mapping → band/Jaccard near replay over the
    // exact-survivors vs the canonical history.
    "q_stream_frontdoor" -> (((s: SparkSession, dir: String) => {
      import graft.streaming.StreamDedup
      import org.apache.spark.sql.streaming.Trigger
      val stage = ExtraQueries.tmp("stream_frontdoor_in", dir)
      val sink = ExtraQueries.tmp("stream_frontdoor_out", dir)
      val ckpt = ExtraQueries.tmp("stream_frontdoor_ckpt", dir)
      Seq(stage, sink, ckpt).foreach(ExtraQueries.rmrf)
      new java.io.File(stage).mkdirs()
      val (hist, batch) = frontDoorCrawl(
        t(s, dir, "documents").select("doc_id", "source", "text"))
      def stageFile(df: DataFrame, name: String): Unit = {
        val tmpd = s"$stage/_w_$name"
        df.coalesce(1).write.mode("overwrite").parquet(tmpd)
        val part = new java.io.File(tmpd).listFiles()
          .find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file under $tmpd"))
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(s"$stage/$name.parquet"))
        ExtraQueries.rmrf(tmpd)
      }
      def runOnce(): Unit = {
        // one AvailableNow run, two micro-batches via maxFilesPerTrigger
        // — same boundaries as the previous two-run shape, one stream
        // start + checkpoint setup saved (see q_stream_neardup)
        val es = graft.streaming.EventStreams
        es.withStagedState(s, stage) {
          val q = StreamDedup.frontDoor(
              s.readStream.schema("crawl_id BIGINT, html STRING")
                .option("maxFilesPerTrigger", "1")
                .parquet(s"$stage/*.parquet"),
              threshold = 0.8, maxBucket = 1000000)
            .writeStream.format("parquet")
            .option("path", sink).option("checkpointLocation", ckpt)
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
          ExtraQueries.awaitBounded(q)
        }
      }
      try {
        stageFile(hist, "hist")
        stageFile(batch, "batch")
        new java.io.File(s"$stage/hist.parquet").setLastModified(1000000000000L)
        new java.io.File(s"$stage/batch.parquet").setLastModified(1000000060000L)
        runOnce() // micro-batch 1: history pages; micro-batch 2: the crawl
        frontDoorVerdicts(s.read.parquet(sink), batch).localCheckpoint()
      } finally Seq(stage, sink, ckpt).foreach(ExtraQueries.rmrf)
    }, Some {
      val bandSelects = (0 until 4).map { b =>
        val (i, j) = (2 * b, 2 * b + 1)
        val sel = s"SELECT did, $b AS band, md5(sig$i::VARCHAR || '|' || sig$j::VARCHAR) AS bkey FROM sig"
        if (b == 0) sel else s"UNION ALL $sel"
      }.mkString(" ")
      s"""WITH src AS (
        SELECT doc_id AS crawl_id, 0 AS phase, doc_id, source, text
        FROM documents WHERE doc_id % 3 = 0
        UNION ALL
        SELECT doc_id, 1, doc_id, source, text
        FROM documents WHERE doc_id % 3 <> 0
        UNION ALL
        SELECT doc_id + 5000000, 1, doc_id, source, text || ' graftzz'
        FROM documents WHERE doc_id % 3 = 0 AND doc_id < 120
        UNION ALL
        SELECT doc_id + 7000000, 1, doc_id, source, text
        FROM documents WHERE doc_id % 3 = 0 AND doc_id >= 120 AND doc_id < 240
        UNION ALL
        SELECT doc_id + 8000000, 1, doc_id, source, text
        FROM documents WHERE doc_id % 3 = 1 AND doc_id < 60),
      pg AS (
        SELECT crawl_id, phase,
          replace(${graft.text.Html.mainTextSql(docHtmlSql)}, chr(10), ' ')
            AS text
        FROM src),
      ranked AS (
        SELECT crawl_id, phase, text,
          row_number() OVER (PARTITION BY md5(text)
            ORDER BY phase, crawl_id) AS rn,
          first_value(crawl_id) OVER (PARTITION BY md5(text)
            ORDER BY phase, crawl_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS holder
        FROM pg),
      exact_pairs AS (
        SELECT crawl_id AS new_id, holder AS dup_id
        FROM ranked WHERE rn > 1 AND phase = 1),
      base AS (
        SELECT 'b:' || crawl_id::VARCHAR AS did, text
        FROM ranked WHERE phase = 1 AND rn = 1
        UNION ALL
        SELECT 'h:' || crawl_id::VARCHAR, text
        FROM ranked WHERE phase = 0 AND rn = 1),
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
      sig AS (SELECT did, ${Queries.minhashSigSql(8)} FROM hx GROUP BY 1),
      bands AS ($bandSelects),
      cand AS (
        SELECT DISTINCT a.did AS da, b.did AS db
        FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
        WHERE a.did LIKE 'b:%' AND b.did LIKE 'h:%'),
      shh AS (
        SELECT DISTINCT did, ('0x' || substr(md5(sh), 1, 15))::BIGINT AS h
        FROM sh),
      sizes AS (SELECT did, count(*)::BIGINT AS sz FROM shh GROUP BY 1),
      inter AS (
        SELECT p.da, p.db, count(*)::BIGINT AS inter
        FROM cand p
        JOIN shh a ON a.did = p.da
        JOIN shh b ON b.did = p.db AND a.h = b.h
        GROUP BY 1, 2),
      j AS (
        SELECT p.da, p.db,
          coalesce(i.inter, 0)::DOUBLE
            / (sa.sz + sb.sz - coalesce(i.inter, 0)) AS jac
        FROM cand p
        LEFT JOIN inter i ON i.da = p.da AND i.db = p.db
        JOIN sizes sa ON sa.did = p.da
        JOIN sizes sb ON sb.did = p.db),
      near_pairs AS (
        SELECT substr(da, 3)::BIGINT AS new_id, substr(db, 3)::BIGINT AS dup_id,
          round(jac, 6) AS jac
        FROM j WHERE round(jac, 6) >= 0.8),
      e AS (SELECT new_id, min(dup_id) AS dup_of FROM exact_pairs GROUP BY 1),
      n AS (SELECT new_id, min(dup_id) AS dup_of, max(jac) AS jac
            FROM near_pairs GROUP BY 1)
      SELECT b.crawl_id,
        CASE WHEN e.dup_of IS NOT NULL THEN 'exact_dup'
             WHEN n.dup_of IS NOT NULL THEN 'near_dup'
             ELSE 'unique' END AS status,
        coalesce(e.dup_of, n.dup_of, -1)::BIGINT AS dup_of,
        CASE WHEN e.dup_of IS NOT NULL THEN 1.0
             WHEN n.jac IS NOT NULL THEN n.jac
             ELSE 0.0 END AS jaccard
      FROM (SELECT crawl_id FROM src WHERE phase = 1) b
      LEFT JOIN e ON e.new_id = b.crawl_id
      LEFT JOIN n ON n.new_id = b.crawl_id
      ORDER BY b.crawl_id"""
    })),
  )

  /** q_stream_frontdoor's crawl over `(doc_id, source, text)` docs:
    * history pages (every `doc_id % 3 == 0` page under its own id), then
    * a crawl batch of fresh originals plus three planted re-crawl
    * classes — ' graftzz' near re-crawls of history (+5,000,000),
    * byte-identical history re-crawls (+7,000,000) and intra-batch page
    * dups (+8,000,000). Both frames are `(crawl_id, html)`.
    */
  private[graft] def frontDoorCrawl(docs: DataFrame): (DataFrame, DataFrame) = {
    def pages(d: DataFrame, crawlId: Column): DataFrame =
      d.select(crawlId.cast("long").as("crawl_id"), docHtml.as("html"))
    val hist = pages(docs.where(col("doc_id") % 3 === 0), col("doc_id"))
    val batch = pages(docs.where(col("doc_id") % 3 =!= 0), col("doc_id"))
      .unionByName(pages(
        docs.where(col("doc_id") % 3 === 0 && col("doc_id") < 120)
          .withColumn("text", concat(col("text"), lit(" graftzz"))),
        col("doc_id") + 5000000L))
      .unionByName(pages(
        docs.where(col("doc_id") % 3 === 0 &&
          col("doc_id") >= 120 && col("doc_id") < 240),
        col("doc_id") + 7000000L))
      .unionByName(pages(
        docs.where(col("doc_id") % 3 === 1 && col("doc_id") < 60),
        col("doc_id") + 8000000L))
    (hist, batch)
  }

  /** One verdict per crawled page of `batch` from the front door's sink
    * `pairs`: exact beats near beats unique; dup_of = canonical (min)
    * match, jaccard = strongest match. Multi-bucket duplicate emissions
    * collapse under the distinct + min/max aggregates (the batch path's
    * .distinct()).
    */
  private[graft] def frontDoorVerdicts(pairs: DataFrame, batch: DataFrame): DataFrame = {
    val distinctPairs = pairs.distinct()
    val ex = distinctPairs.where(col("exact"))
      .groupBy(col("new_id").as("crawl_id"))
      .agg(min("dup_id").as("dup_of_e"))
    val nr = distinctPairs.where(!col("exact"))
      .groupBy(col("new_id").as("crawl_id"))
      .agg(min("dup_id").as("dup_of_n"), max("jaccard").as("jac_n"))
    batch.select("crawl_id")
      .join(ex, Seq("crawl_id"), "left")
      .join(nr, Seq("crawl_id"), "left")
      .select(col("crawl_id"),
        when(col("dup_of_e").isNotNull, lit("exact_dup"))
          .when(col("dup_of_n").isNotNull, lit("near_dup"))
          .otherwise(lit("unique")).as("status"),
        coalesce(col("dup_of_e"), col("dup_of_n"), lit(-1L)).as("dup_of"),
        when(col("dup_of_e").isNotNull, lit(1.0))
          .when(col("jac_n").isNotNull, col("jac_n"))
          .otherwise(lit(0.0)).as("jaccard"))
      .orderBy("crawl_id")
  }

  /** The synthesized page for the q_html_* rows — ONE shape rendered by
    * both engines: [[docHtml]] (Column) and [[docHtmlSql]] (DuckDB) build
    * the byte-identical string, so the extraction oracles test the
    * PIPELINE, not the wrapper. Newlines in `text` become `</p><p>`
    * boundaries; the trailing paragraph carries one legitimate link over
    * the first 120 chars of the doc so the density gate's keep-with-anchor
    * arm is exercised alongside the nav/footer drop arm.
    */
  private[graft] def docHtml: Column = concat(
    lit("<html><head><title>"), col("source"), lit(" #"), col("doc_id"),
    lit("</title><style>p { margin: 0 }</style></head><body>"),
    lit("<nav><a href=\"/\">Home</a> <a href=\"/t\">Tags</a> " +
      "<a href=\"/a\">About</a></nav>"),
    lit("<h1>Doc "), col("doc_id"), lit("</h1><p>"),
    replace(col("text"), lit("\n"), lit("</p><p>")),
    lit("</p><p>More: <a href=\"/d/"), col("doc_id"),
    lit("\">deep link</a> &mdash; "), substring(col("text"), 1, 120),
    // the case-arm pin: 54 chars of stripped text over TWO anchors (one
    // uppercase <A HREF) — counted both, the gate needs 80 and DROPS the
    // block; a lowercase-only count would see one anchor, need 40, and
    // KEEP it, flipping main_md5/blocks_kept loudly
    lit("</p><p>Extra: <A HREF=\"/arc\">the full archive of older " +
      "articles</A> and <a href=\"/m\">a mirror</a>"),
    lit("</p><script>var id = "), col("doc_id"),
    lit(";</script><footer><a href=\"/terms\">Terms</a> &amp; " +
      "<a href=\"/privacy\">Privacy</a></footer></body></html>"))

  private[graft] def docHtmlSql: String =
    """('<html><head><title>' || source || ' #' || doc_id ||
      '</title><style>p { margin: 0 }</style></head><body>' ||
      '<nav><a href="/">Home</a> <a href="/t">Tags</a> ' ||
      '<a href="/a">About</a></nav>' ||
      '<h1>Doc ' || doc_id || '</h1><p>' ||
      replace(text, chr(10), '</p><p>') ||
      '</p><p>More: <a href="/d/' || doc_id ||
      '">deep link</a> &mdash; ' || substr(text, 1, 120) ||
      '</p><p>Extra: <A HREF="/arc">the full archive of older ' ||
      'articles</A> and <a href="/m">a mirror</a>' ||
      '</p><script>var id = ' || doc_id ||
      ';</script><footer><a href="/terms">Terms</a> &amp; ' ||
      '<a href="/privacy">Privacy</a></footer></body></html>')"""
}
