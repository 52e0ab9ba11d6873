package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * No reference analog; value-add for training-data pipelines (builder
  * brief). Two paths:
  *  - brute-force cosine top-k: one scan, codegen'd `aggregate`/`zip_with`
  *    dot products, `TakeOrderedAndProject` for the top-k (no full sort,
  *    no shuffle of the scores — each partition keeps k candidates);
  *  - LSH-bucketed: random-hyperplane sign bits bucket vectors so queries
  *    probe one bucket — the 100 TB path where a full scan per query is
  *    unaffordable. Buckets are built once and reused across queries.
  */
object Similarity {

  /** Dot product of two array columns — native codegen'd expression
    * ([[graft.functions.DotProduct]]); the higher-order-function fold
    * ([[dotHof]]) interprets a lambda per element and is ~an order of
    * magnitude slower on the embedding hot loop.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vecDot(a, b)

  /** HOF reference implementation (kept for cross-checking the native
    * expression; numerically identical accumulation order).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity between two array columns (native expression). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vecCosine(a, b)

  /** HOF reference cosine. */
  def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / (sqrt(dotHof(a, a)) * sqrt(dotHof(b, b)))

  /** Brute-force top-k by cosine against a single query vector.
    * The query ships as a literal into the plan (broadcast-equivalent for
    * one vector); ties broken by id for determinism. Spark plans this as
    * TakeOrderedAndProject — per-partition heaps, no global sort.
    */
  def topKCosine(vectors: DataFrame, query: Seq[Double], k: Int,
                 id: String = "vec_id", emb: String = "embedding"): DataFrame = {
    val q = array(query.map(lit): _*)
    vectors
      .select(col(id), round(cosine(col(emb), q), 6).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(id))
      .limit(k)
  }

  /** Reciprocal-rank fusion (Cormack & Clarke, SIGIR 2009): merge ranked
    * retrieval lists by `score(d) = Σ_lists 1/(c + rank_d)` — the
    * standard way to combine a lexical (BM25-style) and a vector (ANN)
    * ranking without score calibration, since only RANKS enter the
    * formula. Inputs are `(id, rank)` tables (rank 1-based, each id at
    * most once per list); output `(id, rrf_score, n_lists)` with the
    * score rounded at 9 decimals.
    *
    * Determinism note: each 1/(c+rank) is one IEEE division of exact
    * small integers; with two lists the sum is a single commutative
    * addition, so any engine reproduces it bit-for-bit. With 3+ lists
    * the addition order inside the aggregate is engine-chosen — callers
    * needing cross-engine hashes should fuse pairwise.
    *
    * Scale shape: a union + one groupBy on id — never a join chain, so
    * fusing k lists of n rows is one shuffle of k·n tiny rows. The
    * inputs are top-k lists already, so this is driver-free metadata
    * scale in practice.
    */
  def rrfFuse(rankings: Seq[DataFrame], c: Int = 60, id: String = "id",
              rank: String = "rank"): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    rankings.map(_.select(col(id).as("id"), col(rank).as("rank")))
      .reduce(_ unionByName _)
      .groupBy(col("id"))
      .agg(
        round(sum(lit(1.0) / (lit(c.toDouble) + col("rank"))), 9)
          .as("rrf_score"),
        count(lit(1)).as("n_lists"))
  }

  /** Per-vector int8 scalar quantization: affine-map each component to a
    * 0..255 code against the vector's own [min, max] range —
    * `struct(mn, mx, codes)`. The 100 TB rationale is storage/scan IO: a
    * float32 embedding column shrinks ~4× (codes are 0..255, which
    * parquet dictionary/bit-packing stores in ~a byte regardless of the
    * int logical type), and ANN pre-filters can scan codes instead of
    * floats. Quantization is a pure Column transform — it rides the scan,
    * no shuffle, no UDF — and every arithmetic step is engine-replayable
    * (the DuckDB oracle recomputes codes bit-for-bit).
    *
    * A constant vector (mx == mn) maps to all-zero codes and dequantizes
    * to the constant — no division by zero.
    */
  def quantizeInt8(emb: Column): Column =
    bindOnce(transform(emb, _.cast("double")), e =>
      bindOnce(array_min(e), mn => bindOnce(array_max(e), mx =>
        struct(mn.as("mn"), mx.as("mx"),
          transform(e, x =>
            when(mx === mn, lit(0))
              .otherwise(round((x - mn) * lit(255.0) / (mx - mn), 0)
                .cast("int"))).as("codes")))))

  /** Inverse map: code c → mn + c·(mx−mn)/255. Max reconstruction error
    * is half a step, (mx−mn)/510 per component.
    */
  def dequantizeInt8(q: Column): Column =
    transform(q.getField("codes"), c =>
      q.getField("mn") +
        c.cast("double") * (q.getField("mx") - q.getField("mn")) / lit(255.0))

  /** Asymmetric quantized top-k: full-precision query against the
    * dequantized int8 index — the standard quantized-ANN arrangement
    * (index pays the memory, queries keep precision). Same
    * TakeOrderedAndProject shape as [[topKCosine]].
    */
  def topKCosineQuantized(vectors: DataFrame, query: Seq[Double], k: Int,
                          id: String = "vec_id", emb: String = "embedding")
      : DataFrame = {
    val q = array(query.map(lit): _*)
    // The quantized struct MUST be let-bound: dequantizeInt8 references
    // its argument four times (codes, mn twice, mx), and Catalyst's
    // CollapseProject would otherwise inline the full quantize chain
    // (three interpreted array traversals) into every reference — a
    // measured ~4x slowdown on the embedding hot loop.
    vectors
      .select(col(id), bindOnce(quantizeInt8(col(emb)), qz =>
        round(cosine(dequantizeInt8(qz), q), 6)).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(id))
      .limit(k)
  }

  /** Let-binding (same technique as `Dedup.bindOnce` — see the scaladoc
    * there): a lambda variable evaluates once per row; a plain alias is
    * re-inlined into every use site by Catalyst.
    */
  private def bindOnce(value: Column, body: Column => Column): Column =
    graft.ColumnUtil.bindOnce(value, body)

  /** Deterministic hyperplane seed string — shared with the DuckDB oracle
    * generators so every engine derives identical planes. `table` > 0
    * selects an independent hyperplane family (multi-table LSH).
    */
  def planeSeed(table: Int, b: Int, j: Int): String =
    if (table == 0) s"h$b|$j" else s"t$table|h$b|$j"

  /** Random-hyperplane LSH bucket id: `nBits` sign bits of dot products
    * against deterministic pseudo-random hyperplanes (seeded per bit from
    * the vector index parity — engine-portable, no RNG at plan time).
    * Hyperplane h_b component j = +1 if the top bit of
    * md5(planeSeed(table, b, j)) is set else -1 — deterministic
    * everywhere. `table` picks an independent family for multi-table LSH
    * (table 0 keeps the original seeds).
    */
  def lshBucket(emb: Column, dim: Int, nBits: Int = 8, table: Int = 0): Column = {
    val bits = (0 until nBits).map { b =>
      val signs = (0 until dim).map { j =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(planeSeed(table, b, j).getBytes("UTF-8"))
        if ((hex(0) & 0x80) != 0) 1.0 else -1.0
      }
      val h = array(signs.map(lit): _*)
      when(dot(emb, h) >= 0, lit("1")).otherwise(lit("0"))
    }
    concat(bits: _*)
  }

  /** Build the bucketed index: (bucket, vec_id, embedding). At cluster
    * scale this is written as a table bucketed by `bucket` so a query
    * probes one partition.
    */
  def buildLshIndex(vectors: DataFrame, dim: Int, nBits: Int = 8,
                    id: String = "vec_id", emb: String = "embedding",
                    table: Int = 0): DataFrame =
    vectors.select(lshBucket(col(emb), dim, nBits, table).as("bucket"), col(id), col(emb))

  /** ANN top-k: probe the query's bucket, brute-force within it. Recall
    * is tunable via nBits (fewer bits → bigger buckets → higher recall).
    */
  def annTopK(index: DataFrame, query: Seq[Double], k: Int, dim: Int, nBits: Int = 8,
              id: String = "vec_id", emb: String = "embedding"): DataFrame = {
    val qDf = index.sparkSession.range(1)
      .select(array(query.map(lit): _*).as("q"))
    val qBucket = qDf.select(lshBucket(col("q"), dim, nBits).as("bucket"))
      .head().getString(0)
    index.where(col("bucket") === qBucket)
      .select(col(id), round(cosine(col(emb), array(query.map(lit): _*)), 6).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(id))
      .limit(k)
  }

  /** Batched ANN over a QUERY TABLE — the production form (dedup of a
    * new shard against an index, retrieval for millions of prompts):
    * bucket assignment is a Column on BOTH sides, candidates come from
    * one bucket equi-join, and the per-query ranking is a window
    * partitioned by query — never a global sort, and unlike the
    * single-vector [[annTopK]] convenience there is no driver-side
    * bucket collect, so query cardinality scales freely. At warehouse
    * scale the index side is written bucketed by `bucket` and the join
    * co-locates; skew is bounded by nBits exactly as in the index build.
    */
  def annTopKBatch(index: DataFrame, queries: DataFrame, k: Int, dim: Int,
                   nBits: Int = 8, qid: String = "query_id",
                   id: String = "vec_id", emb: String = "embedding"): DataFrame = {
    val q = queries.select(col(qid),
      lshBucket(col(emb), dim, nBits).as("bucket"),
      col(emb).cast("array<double>").as("_q"))
    val cand = q.join(index, "bucket")
      .select(col(qid), col(id),
        round(cosine(col(emb), col("_q")), 6).as("cosine_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qid)).orderBy(col("cosine_sim").desc, col(id))
    cand.withColumn("_rn", row_number().over(w)).where(col("_rn") <= k)
      .select(col(qid), col(id), col("cosine_sim"))
  }

  /** Hard-negative mining for contrastive training (the in-corpus
    * retrieval step of DPR/SimCSE-style recipes): for each anchor, the
    * k most cosine-similar vectors whose label DIFFERS from the
    * anchor's — the pairs a bi-encoder most needs to separate. Same
    * physical shape as [[annTopKBatch]] — one LSH-bucket equi-join +
    * per-anchor ranking window — with the label-inequality predicate
    * riding the join, so the anchor itself (same label by definition)
    * never surfaces and no post-hoc filtering rescans candidates. At
    * warehouse scale `vectors` is written bucketed by the LSH bucket
    * column and anchors co-locate; anchor cardinality scales freely
    * because there is no driver-side collect anywhere in the plan.
    */
  def hardNegatives(vectors: DataFrame, anchors: DataFrame, k: Int, dim: Int,
                    nBits: Int = 8, qid: String = "query_id",
                    id: String = "vec_id", label: String = "label",
                    emb: String = "embedding"): DataFrame = {
    val idx = vectors.select(lshBucket(col(emb), dim, nBits).as("bucket"),
      col(id), col(label), col(emb))
    val q = anchors.select(col(qid), col(label).as("_alabel"),
      lshBucket(col(emb), dim, nBits).as("bucket"),
      col(emb).cast("array<double>").as("_q"))
    val cand = q.join(idx, "bucket")
      .where(col(label) =!= col("_alabel"))
      .select(col(qid), col(id), col(label).as("neg_label"),
        round(cosine(col(emb), col("_q")), 6).as("cosine_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qid)).orderBy(col("cosine_sim").desc, col(id))
    cand.withColumn("_rn", row_number().over(w)).where(col("_rn") <= k)
      .select(col(qid), col(id), col("neg_label"), col("cosine_sim"))
  }

  /** IVF (inverted-file) index: vectors assigned to their nearest
    * centroid by cosine; queries probe only the `nprobe` nearest
    * centroids' cells. Centroids here are caller-provided (id, vector)
    * pairs — at corpus scale they come from a sampled k-means; for
    * deterministic tests/oracles, fixed dataset vectors work.
    *
    * The assignment is one broadcast-joined pass (centroid set is tiny);
    * the cell column is what the table would be partitioned/bucketed by
    * at 100 TB so probes touch one partition per cell.
    */
  /** Mean-pool embeddings per group — the chunk→document pooling step of
    * an embedding pipeline. One posexplode + (group,pos) partial-agg avg
    * + one reassembly agg: shuffles dim scalars per group, never a
    * per-group buffer of whole vectors, so a group with 10⁶ chunks costs
    * the same state as one with 10. Means quantize at 9 decimals (same
    * trick as [[kmeansFit]]) so the result is identical on any
    * partitioning and replayable by any SQL engine.
    */
  def meanPool(vectors: DataFrame, group: Column,
               emb: String = "embedding"): DataFrame =
    vectors
      .select(group.as("group_id"),
        posexplode(col(emb).cast("array<double>")).as(Seq("pos", "x")))
      .groupBy("group_id", "pos").agg(round(avg("x"), 9).as("m"))
      .groupBy("group_id")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as(emb))

  /** Distributed Lloyd iterations — TRAINS the IVF centroids instead of
    * just probing seeded ones. Per iteration: one broadcast-style assign
    * (via [[buildIvfIndex]] — plan-literal centroids at small k, a
    * broadcast centroid array above [[MaxLiteralCentroids]]) and one
    * posexplode + (cell,pos) partial-aggregated mean — a single shuffle
    * of k·dim cells per partition regardless of corpus size. The k·dim
    * recomputed means are collected to the driver per iteration (k·dim ≤
    * a few thousand doubles — the same legitimate centroid-table collect
    * the IVF probe already does; the DATA never leaves executors).
    *
    * Determinism, engine-portable: seeds are the k smallest-id vectors
    * (cid = 0..k-1 in id order); assignment tie-break prefers the smaller
    * cid; recomputed means round at 9 decimals so the 1e-16 FP-order
    * noise of distributed summation cannot cascade into different
    * assignments across engines/partitionings. Empty cells keep their
    * previous centroid. Returns (assignment, centroids).
    */
  def kmeansFit(vectors: DataFrame, k: Int, iters: Int,
                id: String = "vec_id", emb: String = "embedding")
      : (DataFrame, Seq[(Int, Seq[Double])]) = {
    val v = vectors.select(col(id), col(emb).cast("array<double>").as(emb))
    var cents: Seq[(Int, Seq[Double])] = v.orderBy(col(id)).limit(k).collect()
      .zipWithIndex.map { case (r, i) => i -> r.getSeq[Double](1).toVector }.toSeq
    for (_ <- 0 until iters) {
      val means = buildIvfIndex(v, cents, id, emb)
        .select(col("cell"), posexplode(col(emb)).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(round(avg("x"), 9).as("m"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      val byCell = means.groupBy(_._1).map { case (c, xs) =>
        c -> xs.sortBy(_._2).map(_._3).toVector
      }
      cents = cents.map { case (cid, old) => cid -> byCell.getOrElse(cid, old) }
    }
    (buildIvfIndex(v, cents, id, emb).select(col(id), col("cell")), cents)
  }

  /** Above this many centroids the assignment switches from plan-literal
    * `greatest` structs to the broadcast-data fold: the literal form is
    * fastest at small k (fully codegen'd, zero join) but its plan string,
    * codegen method size, and analyzer cost all grow O(k·dim) — a
    * realistic IVF cell count for 100 TB (k in the tens of thousands)
    * would blow the plan up. The broadcast form's plan is k-independent.
    */
  val MaxLiteralCentroids: Int = 64

  /** Nearest-centroid assignment, (sim, -cid) argmax — deterministic
    * tie-break on the smaller centroid id. Two physical forms with
    * identical semantics (dispatch on k, overridable for tests):
    *
    *  - literal (k ≤ `maxLiteralCentroids`): centroids ride the plan as
    *    literal arrays inside a `greatest`-of-structs fold — broadcast-
    *    free, whole-stage-codegen'd, ideal at probe-scale k;
    *  - broadcast (large k): centroids ride as ONE broadcast row holding
    *    `array<struct<cid, vec>>`, attached by a 1-row broadcast
    *    nested-loop join, and the argmax folds over that array with
    *    `aggregate()`. Shuffle-free, plan/codegen size independent of k;
    *    the per-element lambda is interpreter-dispatched but each cosine
    *    is still [[graft.functions.CosineSimilarity]]'s tight primitive
    *    loop, so the O(k·dim) per-row work dominates dispatch.
    */
  def buildIvfIndex(vectors: DataFrame, centroids: Seq[(Int, Seq[Double])],
                    id: String = "vec_id", emb: String = "embedding",
                    maxLiteralCentroids: Int = MaxLiteralCentroids): DataFrame = {
    require(centroids.nonEmpty, "buildIvfIndex: empty centroid set")
    if (centroids.size <= maxLiteralCentroids) {
      val scored = centroids.map { case (cid, cvec) =>
        struct(cosine(col(emb), array(cvec.map(lit): _*)).as("sim"),
          lit(-cid).as("negcid"))
      }
      vectors.select(col(id), col(emb),
        (-greatest(scored: _*).getField("negcid")).as("cell"))
    } else {
      val spark = vectors.sparkSession
      import spark.implicits._
      val centRow = broadcast(
        Seq(centroids.map { case (cid, v) => (cid, v) }).toDF("_cents"))
      // (sim, negcid) running max over the broadcast centroid array —
      // same comparison the literal path's greatest performs, so the two
      // paths tie-break identically on equal similarities. The max runs
      // as the codegen'd NearestCentroid primitive
      // loop — the previous `aggregate()` fold paid an interpreted
      // closure dispatch + struct allocation + struct compare per
      // centroid per row (measured 2.6× on the k=160 d5k assignment);
      // SimilaritySpec pins the two physical forms cell-for-cell.
      vectors.crossJoin(centRow)
        .select(col(id), col(emb),
          graft.functions.VectorExpressions.nearestCell(
            col(emb), col("_cents")).as("cell"))
    }
  }

  /** Exact top-k for a SAMPLED query table — the ground-truth side of
    * [[annRecall]]: broadcast the (metadata-sized) query set against
    * the full corpus and keep k per query via the ranking window. The
    * per-query cost is one corpus pass — this is the standard
    * recall-eval shape (ground truth on a sampled query set), never
    * the production retrieval path.
    */
  def exactTopKBatch(vectors: DataFrame, queries: DataFrame, k: Int,
                     qid: String = "query_id", id: String = "vec_id",
                     emb: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(qid),
      col(emb).cast("array<double>").as("_q")))
    val cand = vectors.select(col(id), col(emb)).crossJoin(q)
      .select(col(qid), col(id),
        round(cosine(col(emb), col("_q")), 6).as("cosine_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qid)).orderBy(col("cosine_sim").desc, col(id))
    cand.withColumn("_rn", row_number().over(w)).where(col("_rn") <= k)
      .select(col(qid), col(id), col("_rn").as("rank"), col("cosine_sim"))
  }

  /** Index-tuning audit: recall@k and the reciprocal rank of the true
    * nearest neighbor for the LSH index against exact brute force, per
    * sampled query — the artifact that decides nBits/nprobe before an
    * index ships. Both rankings use the library's round-6 cosine with
    * the id tie-break, so the comparison is engine-replayable. Scale:
    * the query set is a SAMPLE (metadata-sized, broadcast); the exact
    * side is one corpus pass with a WindowGroupLimit-bounded window;
    * the ANN side is the production bucket join.
    */
  def annRecall(vectors: DataFrame, queries: DataFrame, k: Int, dim: Int,
                nBits: Int = 8, qid: String = "query_id",
                id: String = "vec_id", emb: String = "embedding"): DataFrame = {
    val ann = annTopKBatch(buildLshIndex(vectors, dim, nBits, id, emb),
      queries, k, dim, nBits, qid, id, emb)
      .select(col(qid), col(id))
    val exact = exactTopKBatch(vectors, queries, k, qid, id, emb)
    val hits = exact.join(ann, Seq(qid, id), "left_semi")
      .groupBy(col(qid)).agg(count(lit(1)).as("n_hits"),
        // reciprocal rank of the TRUE top-1: 1/1 if the ANN list holds
        // it (it can only appear at its exact rank's position or not at
        // all — both lists share the total order), else 0
        max(when(col("rank") === 1, lit(1.0)).otherwise(lit(0.0))).as("rr"))
    queries.select(col(qid)).join(hits, Seq(qid), "left")
      .select(col(qid),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") / lit(k), 6)
          .as("recall_at_k"),
        coalesce(col("rr"), lit(0.0)).as("top1_hit"))
  }

  /** Rank-discount constants for [[annNdcg]]: `round(1e9 / log2(r+1))`
    * for ranks 1..k, precomputed on the driver and embedded as LITERALS
    * in both engines' plans — DCG sums become exact integer arithmetic
    * (cross-engine `ln` is not bit-stable; literals are).
    */
  def ndcgDiscounts(k: Int): Seq[Long] =
    (1 to k).map(r => math.round(1e9 / (math.log(r + 1.0) / math.log(2.0))))

  /** The constant ideal DCG at k (graded gains k, k-1, …, 1 — the corpus
    * always holds ≥ k true neighbors, so IDCG doesn't vary per query).
    */
  def ndcgIdeal(k: Int): Long =
    ndcgDiscounts(k).zipWithIndex.map { case (d, i) => (k - i).toLong * d }.sum

  /** Graded retrieval-quality audit — nDCG@k and MRR for the LSH index
    * against exact brute force, per sampled query. [[annRecall]] scores
    * set overlap; this scores ORDER: an index that returns the right 10
    * neighbors ranked backwards recalls 1.0 but nDCG≪1. Gains are the
    * integer grades k+1−true_rank (0 off-list), discounts and the ideal
    * DCG are driver-precomputed literals ([[ndcgDiscounts]]/[[ndcgIdeal]]),
    * so every per-query sum is exact BIGINT arithmetic and the one final
    * ratio is engine-replayable. MRR is the reciprocal APPROX rank of
    * the true nearest neighbor (round-6).
    *
    * Scale shape: identical to [[annRecall]] — broadcast query sample,
    * one corpus pass for the exact side (WindowGroupLimit-bounded), the
    * production bucket join for the ANN side; the gain join is per
    * (query, candidate) on k·|queries| rows.
    */
  def annNdcg(vectors: DataFrame, queries: DataFrame, k: Int, dim: Int,
              nBits: Int = 8, qid: String = "query_id",
              id: String = "vec_id", emb: String = "embedding"): DataFrame = {
    val ann = annTopKBatch(buildLshIndex(vectors, dim, nBits, id, emb),
      queries, k, dim, nBits, qid, id, emb)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qid)).orderBy(col("cosine_sim").desc, col(id))
    val annRanked = ann.withColumn("arank", row_number().over(w))
    val exact = exactTopKBatch(vectors, queries, k, qid, id, emb)
      .select(col(qid), col(id), col("rank").as("erank"),
        (lit(k + 1L) - col("rank")).as("gain"))
    val discounts = ndcgDiscounts(k)
    val dArr = array(discounts.map(lit): _*)
    val scored = annRanked.join(exact, Seq(qid, id), "left")
      .groupBy(col(qid)).agg(
        sum(coalesce(col("gain"), lit(0L))
          * element_at(dArr, col("arank"))).as("_dcg"),
        max(when(col("erank") === 1,
          round(lit(1.0) / col("arank"), 6)).otherwise(lit(0.0))).as("_mrr"))
    queries.select(col(qid)).join(scored, Seq(qid), "left")
      .select(col(qid),
        round(coalesce(col("_dcg"), lit(0L)).cast("double")
          / lit(ndcgIdeal(k).toDouble), 6).as("ndcg_at_k"),
        coalesce(col("_mrr"), lit(0.0)).as("mrr"))
  }

  /** Embedding-space outlier gate: assign every vector to its nearest
    * centroid (the [[buildIvfIndex]] argmax, identical tie-break) and
    * flag vectors whose cosine to their OWN cell centroid falls below
    * `threshold` — the curation filter that drops mis-embedded /
    * off-manifold samples before contrastive or retrieval training
    * (the quality-gate sibling of SemDeDup's within-cell dedup).
    * One broadcast assignment pass + one broadcast join back to the
    * tiny centroid table for the own-cell cosine: the corpus is
    * scanned once and never shuffles on anything.
    */
  def cellOutliers(vectors: DataFrame, centroids: Seq[(Int, Seq[Double])],
                   threshold: Double, id: String = "vec_id",
                   emb: String = "embedding"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val assigned = buildIvfIndex(vectors, centroids, id, emb)
    val centDf = broadcast(centroids.toDF("cell", "_cv"))
    assigned.join(centDf, "cell")
      .select(col(id), col("cell").cast("long").as("cell"),
        round(cosine(col(emb), col("_cv")), 6).as("cell_cos"))
      .withColumn("is_outlier", col("cell_cos") < lit(threshold))
  }

  /** IVF ANN top-k: score the query against every centroid, probe the
    * best `nprobe` cells, brute-force within them.
    */
  /** Batched IVF ANN over a QUERY TABLE: each query's `nprobe` nearest
    * cells come from Column arithmetic against the one-row broadcast
    * centroid array — plan size independent of k, the same discipline
    * as [[buildIvfIndex]]'s large-k path ([[ivfTopK]] sorts cells on
    * the driver for its single vector; that cannot scale past a handful
    * of queries) — then ONE cell equi-join against the index and a
    * per-query window top-k. Probe ties break on the smaller cid via
    * the struct sort order, identical to ivfTopK and the assignment
    * argmax, so batch ≡ single-query result for every query. At
    * warehouse scale the index is partitioned by `cell`, the query side
    * broadcasts from size estimates, and the window never global-sorts.
    */
  def ivfTopKBatch(index: DataFrame, centroids: Seq[(Int, Seq[Double])],
                   queries: DataFrame, k: Int, nprobe: Int = 1,
                   qid: String = "query_id", id: String = "vec_id",
                   emb: String = "embedding"): DataFrame = {
    require(centroids.nonEmpty, "ivfTopKBatch: empty centroid set")
    val spark = index.sparkSession
    import spark.implicits._
    val centRow = broadcast(Seq(centroids).toDF("_cents"))
    val scored = transform(col("_cents"), c =>
      struct((-cosine(col("_q"), c.getField("_2"))).as("negsim"),
        c.getField("_1").as("cid")))
    val probes = queries
      .select(col(qid), col(emb).cast("array<double>").as("_q"))
      .crossJoin(centRow)
      .select(col(qid), col("_q"),
        explode(slice(array_sort(scored), 1, nprobe).getField("cid")).as("cell"))
    val cand = probes.join(index, "cell")
      .select(col(qid), col(id),
        round(cosine(col(emb), col("_q")), 6).as("cosine_sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qid)).orderBy(col("cosine_sim").desc, col(id))
    cand.withColumn("_rn", row_number().over(w)).where(col("_rn") <= k)
      .select(col(qid), col(id), col("cosine_sim"))
  }

  def ivfTopK(index: DataFrame, centroids: Seq[(Int, Seq[Double])],
              query: Seq[Double], k: Int, nprobe: Int = 1,
              id: String = "vec_id", emb: String = "embedding"): DataFrame = {
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val cells = centroids.map { case (cid, cvec) => (cos(query, cvec), cid) }
      .sortBy { case (s, cid) => (-s, cid) }.take(nprobe).map(_._2)
    index.where(col("cell").isin(cells: _*))
      .select(col(id), round(cosine(col(emb), array(query.map(lit): _*)), 6).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(id))
      .limit(k)
  }

  /** Per-group centroid cosine between two vector snapshots — the
    * embedding-drift monitor (did the embedder / corpus shift move each
    * label's center?). Both sides posexplode into (group, dim)-keyed
    * partial aggregates — group×dim rows of state, no vector collected —
    * and every cross-row sum is quantized to integers first (1e-6 for
    * the per-dim means, 1e-9 for the dot/norm reduction), so the cosine
    * is a pure function of the inputs on any partitioning or engine
    * (sqrt is IEEE-exact; no libm pow anywhere). Output: (group,
    * `centroid_cos` rounded at 6), one row per group present in BOTH
    * snapshots.
    */
  def centroidDrift(v1: DataFrame, v2: DataFrame,
                    group: String = "label", vec: String = "e"): DataFrame = {
    def centroid(v: DataFrame, as: String): DataFrame = v
      .select(col(group), posexplode(col(vec)).as(Seq("pos", "x")))
      .groupBy(group, "pos")
      .agg((sum(round(col("x") * lit(1000000.0)).cast("long"))
        / lit(1000000.0) / count(lit(1))).as(as))
    centroid(v1, "m").join(centroid(v2, "m2"), Seq(group, "pos"))
      .groupBy(group)
      .agg(
        sum(round(col("m") * col("m2") * lit(1000000000.0)).cast("long")).as("dot_q"),
        sum(round(col("m") * col("m") * lit(1000000000.0)).cast("long")).as("n1_q"),
        sum(round(col("m2") * col("m2") * lit(1000000000.0)).cast("long")).as("n2_q"))
      .select(col(group),
        round((col("dot_q") / lit(1000000000.0)) /
          (sqrt(col("n1_q") / lit(1000000000.0)) *
           sqrt(col("n2_q") / lit(1000000000.0))), 6).as("centroid_cos"))
  }
}
