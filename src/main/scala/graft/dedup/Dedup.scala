package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication operators.
  *
  * The reference has no dedup operators (distinct is user-level reduce —
  * SURVEY.md §2.6); these are the scale path for a 100 TB document corpus.
  * All hashing is md5-based and engine-portable on purpose: the same
  * pipeline is reproducible from Spark, DuckDB, or Python — which is also
  * what makes the DuckDB correctness oracle possible.
  *
  * Scale design notes (100 TB):
  *  - every stage is a single shuffle on a well-distributed hash key;
  *  - MinHash signatures compute in ONE pass over exploded shingles with
  *    `numPerms` agg columns (map-side partial min per permutation), not
  *    one shuffle per permutation;
  *  - LSH banding self-joins on (band, bandKey) — bucket sizes are
  *    bounded by banding probability, and a `maxBucket` guard drops
  *    degenerate buckets (all-identical boilerplate docs) instead of
  *    letting one bucket produce O(n²) pairs on a cluster.
  */
object Dedup {

  /** Whitespace tokens, empties dropped. */
  private def toks(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > lit(0))

  /** Let-binding for Column expressions — the shared
    * [[graft.ColumnUtil.bindOnce]] (computed once per row; a plain
    * alias is re-inlined by CollapseProject, measured 5x on winnowing).
    */
  private def bindOnce(value: Column, body: Column => Column): Column =
    graft.ColumnUtil.bindOnce(value, body)

  /** Contiguous word `n`-gram shingles of the text.
    * Docs shorter than n words shingle to the whole text.
    *
    * Built by zipping n shifted views of the token array — O(tokens)
    * total. (The obvious `transform(sequence(...), i -> slice(t, i, n))`
    * is O(tokens x n) with an array copy per position: quadratic-ish and
    * 10x slower at corpus scale.) The token array binds once
    * ([[bindOnce]]) — it re-enters every shifted view plus the guards,
    * and inlined copies would re-split the text per view.
    */
  def shingles(text: Column, n: Int = 3): Column =
    // codegen construction — one primitive byte pass per
    // row ([[graft.functions.Shingles]]) instead of the interpreted
    // zip_with/filter HOF fold retained below as [[shinglesHof]]
    // (HashExprSpec pins the two element-for-element, nulls included)
    graft.functions.HashExpressions.shingles(text, n)

  /** The HOF construction of [[shingles]] — the differential
    * twin HashExprSpec replays against the codegen expression.
    *
    * Built by zipping n shifted views of the token array — O(tokens)
    * total. (The obvious `transform(sequence(...), i -> slice(t, i, n))`
    * is O(tokens x n) with an array copy per position: quadratic-ish and
    * 10x slower at corpus scale.) The token array binds once
    * ([[bindOnce]]) — it re-enters every shifted view plus the guards,
    * and inlined copies would re-split the text per view.
    */
  private[graft] def shinglesHof(text: Column, n: Int = 3): Column =
    bindOnce(toks(text), { t =>
      val m = greatest(size(t) - (n - 1), lit(1)) // shingle count (>=1)
      val views = (0 until n).map(k => slice(t, lit(k + 1), m))
      val zipped = views.reduce((a, b) => zip_with(a, b, (x, y) => concat(x, lit(" "), y)))
      // zip_with pads the shorter side with null → null shingles when the
      // doc has < n tokens; fall back to the whole text joined.
      filter(when(size(t) >= n, zipped).otherwise(array(array_join(t, " "))),
        s => s.isNotNull)
    })

  /** Exact dedup: canonical row per identical text. Returns (text_hash,
    * doc_id) keeping the smallest doc_id per hash — one hash-shuffle,
    * fully partial-aggregated map-side.
    */
  def exact(docs: DataFrame, text: String = "text", id: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col(text)).as("text_hash"))
      .agg(min(col(id)).as(id), count(lit(1)).as("dup_cnt"))

  /** Key-collision fingerprint dedup: normalized bag-of-words fingerprint
    * (lowercase, distinct, sorted, md5) — catches word-order shuffles that
    * exact hashing misses.
    */
  def fingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(toks(lower(text)))), " "))

  /** Incremental exact dedup: dedup a NEW batch against the published
    * fingerprint table of an already-deduped HISTORY corpus, without
    * reprocessing the history — the daily-ingest shape (at 100 TB the
    * corpus dwarfs any day's batch; re-deduplicating from scratch per
    * batch is the naive plan this operator replaces).
    *
    * Every stage is bounded by the BATCH, never the corpus:
    *  1. intra-batch [[exact]] dedup — one hash shuffle of the batch;
    *  2. history lookup with a bloom NEGATIVE-LOOKUP SKIP
    *     ([[graft.sources.MapLookup.bloomPredicate]] — the BloomMapFile
    *     pattern `/root/reference/src/core/org/apache/hadoop/io/BloomMapFile.java:45`,
    *     negated): no false negatives means a batch row that MISSES the
    *     bloom is definitely unseen and is kept with no join at all;
    *     only the ~(dup-rate + fpp) fraction that hits shuffles into the
    *     exact anti join that removes the false positives.
    * The history side contributes one distributed bloom build (bits ∝
    * `expectedHistory`, broadcast once) and the exact anti join's
    * history scan is bloom-PREfiltered too — both sides of that shuffle
    * carry only candidate keys.
    *
    * Returns the batch's surviving canonical rows
    * (`text_hash`, id, `dup_cnt`) — append these to the corpus and their
    * hashes to the fingerprint table to complete the ingest cycle.
    */
  def incrementalExact(batch: DataFrame, historyFps: DataFrame,
                       fpCol: String = "text_hash",
                       text: String = "text", id: String = "doc_id",
                       expectedHistory: Long = 1000000L,
                       fpp: Double = 0.01): DataFrame = {
    val b = exact(batch, text, id)
    val mightBeSeen =
      graft.sources.MapLookup.bloomPredicate(historyFps, fpCol,
        expectedHistory, fpp)(col("text_hash"))
    val hist = historyFps.select(col(fpCol).as("text_hash"))
    b.where(!mightBeSeen) // definitely-new fast path: no join
      .unionByName(
        b.where(mightBeSeen)
          .join(hist, Seq("text_hash"), "left_anti"))
  }

  /** Incremental NEAR-dup: the fuzzy counterpart of [[incrementalExact]].
    * LSH bands of the NEW batch probe the band table of the history
    * corpus; candidates are verified by exact n-gram Jaccard between the
    * batch doc and its matched history doc. Returns verified
    * (`batch_id`, `hist_id`, `jaccard`) pairs — survivors are the batch
    * anti-joined on `batch_id`.
    *
    * At 100 TB the history BAND TABLE is published alongside the corpus
    * (computed once at ingest; bucket it by (band, bkey) and the
    * per-batch probe shuffles only the batch side). Per batch, the cost
    * is bands(batch) + one equi-join probe + shingles over CANDIDATE
    * docs only — history text is never re-tokenized beyond the docs that
    * actually matched a bucket. `maxBucket` drops pathological HISTORY
    * buckets (corpus-wide boilerplate) before the probe — the
    * [[minhashCandidates]] ceiling rationale applied to the history side.
    *
    * Batch and history ids may collide (they are different tables), so
    * the Jaccard verification runs over a `b:`/`h:`-prefixed union of
    * just the candidate docs, then maps back to the original ids.
    *
    * Storage note: constructing this frame EAGERLY materializes a small
    * candidate checkpoint (Spark jobs run at construction time, see the
    * plan note inside) and the pinned copy lives until session end. A
    * one-shot caller never notices; a long-lived daily-ingest session
    * (one call per batch) should use [[incrementalNearDupsTracked]] and
    * release each batch's checkpoint after materializing its result —
    * the [[ngramJaccardTracked]]/GlobalRank contract.
    */
  def incrementalNearDups(batch: DataFrame, history: DataFrame,
                          threshold: Double = 0.8, numPerms: Int = 8,
                          rowsPerBand: Int = 2, shingleN: Int = 3,
                          maxBucket: Int = 1000, text: String = "text",
                          id: String = "doc_id"): DataFrame =
    incrementalNearDupsTracked(batch, history, threshold, numPerms,
      rowsPerBand, shingleN, maxBucket, text, id)._1

  /** [[incrementalNearDups]] plus a release() freeing its pinned
    * checkpoints (the eager candidate table and the lazy verify-side
    * shingle table). Call release only after the returned frame has
    * materialized everywhere it is consumed — the blocks ARE its data.
    */
  def incrementalNearDupsTracked(
      batch: DataFrame, history: DataFrame,
      threshold: Double = 0.8, numPerms: Int = 8,
      rowsPerBand: Int = 2, shingleN: Int = 3,
      maxBucket: Int = 1000, text: String = "text",
      id: String = "doc_id"): (DataFrame, () => Unit) = {
    val bBands = lshBands(minhashSignatures(batch, numPerms, shingleN, text, id),
        numPerms, rowsPerBand, id)
      .select(col(id).as("batch_id"), col("band"), col("bkey"))
    val hBands = lshBands(minhashSignatures(history, numPerms, shingleN, text, id),
        numPerms, rowsPerBand, id)
      .select(col(id).as("hist_id"), col("band"), col("bkey"))
    val okBuckets = hBands.groupBy("band", "bkey")
      .agg(count(lit(1)).as("_n")).where(col("_n") <= maxBucket)
      .select("band", "bkey")
    val candRaw = bBands
      .join(hBands.join(okBuckets, Seq("band", "bkey")), Seq("band", "bkey"))
      .select("batch_id", "hist_id").distinct()
    // cand re-enters FOUR subplans (both candDocs sides, prefixedPairs,
    // the final join-back) and carries the entire two-sided LSH pipeline
    // under it — without a cut the plan re-executes the md5 signature
    // passes per re-entry (a plan audit counted 24 document scans;
    // ReuseExchange does not fire across the differing projections).
    // cand is small by construction — band-collision pairs only, the
    // history side maxBucket-guarded — so one eager local checkpoint
    // collapses the whole thing to a single LSH pass + small-table
    // joins. Measured at sf0.1: ~6.1 s → ~2.5 s steady-state wall.
    val candT = graft.ops.Checkpoints.truncateTracked(candRaw)
    val cand = candT.df
    val candDocs =
      batch.join(cand.select(col("batch_id").as(id)).distinct(), id)
        .select(concat(lit("b:"), col(id).cast("string")).as(id), col(text))
      .unionByName(
        history.join(cand.select(col("hist_id").as(id)).distinct(), id)
          .select(concat(lit("h:"), col(id).cast("string")).as(id), col(text)))
    val prefixedPairs = cand.select(
      concat(lit("b:"), col("batch_id").cast("string")).as("doc_a"),
      concat(lit("h:"), col("hist_id").cast("string")).as("doc_b"))
    val (jac, jacRelease) =
      ngramJaccardTracked(candDocs, prefixedPairs, shingleN, text, id)
    val res = cand.join(
        jac.where(col("jaccard") >= threshold),
        concat(lit("b:"), col("batch_id").cast("string")) === col("doc_a") &&
          concat(lit("h:"), col("hist_id").cast("string")) === col("doc_b"))
      .select(col("batch_id"), col("hist_id"), col("jaccard"))
    (res, () => { candT.release(); jacRelease() })
  }

  /** MinHash permutation constants: universal-hash family
    * `h_i(x) = (a_i * (x mod P) + b_i) mod P` over the prime
    * P = 2^31 - 1. Engine-portable (exact 64-bit integer math) and cheap:
    * ONE md5 per shingle regardless of numPerms, vs numPerms md5 calls —
    * at corpus scale the md5 is the dominant signature cost.
    */
  val MinhashP: Long = 2147483647L
  def minhashA(i: Int): Long = ((i + 1) * 2654435761L) % MinhashP
  def minhashB(i: Int): Long = ((i + 1) * 40503L * 65537L + 17L) % MinhashP

  /** Shingle → 60-bit integer via the first 15 hex chars of md5 —
    * reproducible from any engine (DuckDB: `('0x'||substr(md5(s),1,15))::BIGINT`).
    */
  def shingleHash(sh: Column): Column =
    // the digest nibbles ARE the hex digits — read the
    // first 15 directly ([[graft.functions.Md5PrefixLong]]) instead of
    // rendering the 32-char hex string and conv-parsing it back
    // (value-identical for 15 digits; HashExprSpec pins it against the
    // conv form)
    graft.functions.HashExpressions.md5PrefixLong(sh, 15)

  /** MinHash signature per doc: sig_i = min over shingles of the i-th
    * affine permutation of the shingle hash.
    *
    * One explode + one groupBy: Catalyst plans map-side partial `min` for
    * all `numPerms` columns in a single shuffle, so a hot document never
    * concentrates more than its own shingles on one task.
    */
  def minhashSignatures(docs: DataFrame, numPerms: Int = 8, shingleN: Int = 3,
                        text: String = "text", id: String = "doc_id"): DataFrame = {
    // shingle + hash in ONE codegen pass per row — the exploded
    // rows carry the 60-bit hash long instead of the shingle string
    // (same values: md5-prefix-15 of each distinct shingle), so the
    // string array is never materialized as Catalyst values
    val ex = docs.select(col(id), explode(
        graft.functions.HashExpressions.shingleHashes(
          col(text), shingleN, distinct = true)).as("h0"))
      .withColumn("x", col("h0") % MinhashP)
    val aggs = (0 until numPerms).map { i =>
      min((col("x") * minhashA(i) + minhashB(i)) % MinhashP).as(s"sig$i")
    }
    ex.groupBy(col(id)).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-row MinHash signature as a SCALAR array<bigint> Column — the
    * dedup-key surface SQL consumers reach as `graft_minhash_sig(text)`.
    * Arithmetic identical to [[minhashSignatures]]: one md5 per distinct
    * shingle (the hash array let-binds via [[bindOnce]] so all k affine
    * permutations share it — without the binding Catalyst re-inlines the
    * md5 map into every array_min, a k× md5 cost), so the scalar equals
    * the aggregate path row for row; q_minhash_scalar certifies that
    * against the SAME DuckDB replay the aggregate row uses. Scale: zero
    * shuffle — the signature rides the scan. The aggregate path stays
    * preferable when downstream also consumes the exploded shingles
    * (LSH banding reuses the explode).
    */
  def minhashSigArray(text: Column, numPerms: Int = 8,
                      shingleN: Int = 3): Column =
    bindOnce(
      graft.functions.HashExpressions.shingleHashes(
        text, shingleN, distinct = true, mod = MinhashP),
      xs =>
        // NULL text (or a null/empty shingle set) → NULL signature, one
        // whole-array null — matching the aggregate path, which emits NO
        // row for such a doc (explode of nothing). Without the guard a
        // shingle-less doc would get a degenerate signature that band-
        // joins with every other null-text doc.
        //
        // The k minima come from ONE codegen'd pass
        // ([[graft.functions.MinhashMins]]) — previously k interpreted
        // `array_min(transform(...))` passes, k closure dispatches per
        // shingle (same affine family, bit-identical signatures).
        when(size(xs) > 0,
          graft.functions.MinhashExpressions.minhashMins(xs, numPerms)))

  /** LSH band keys from the SCALAR signature — array<string> where the
    * INDEX is the band and the element is the band's bucket key, the
    * same md5-of-joined-components construction as [[lshBands]], so
    * scalar keys land in the exact buckets the aggregate path builds
    * (DedupSpec pins the two band-for-band). SQL consumers get the
    * whole candidate-bucket join in plain SQL:
    * `posexplode(graft_minhash_bands(text))` → GROUP BY (pos, col).
    */
  def minhashBandKeys(text: Column, numPerms: Int = 8, rowsPerBand: Int = 2,
                      shingleN: Int = 3): Column =
    minhashBandKeysFromHashes(
      graft.functions.HashExpressions.shingleHashes(
        text, shingleN, distinct = true),
      numPerms, rowsPerBand)

  /** [[minhashBandKeys]] over a PRE-COMPUTED 60-bit shingle-hash array.
    * The streaming near-dup scan projects BOTH the verify set
    * (sorted distinct hashes) and the band keys from one document, and
    * as separate output columns each re-tokenized and re-md5'd the text
    * — this variant lets one bound hash array feed both (the
    * per-shingle md5 is the dominant signature cost). Value-identical
    * to the text form: duplicate hashes (distinct shingles colliding at
    * 60 bits) cannot move a minimum, and the size/null guards match
    * [[minhashSigArray]]'s.
    */
  def minhashBandKeysFromHashes(hs0: Column, numPerms: Int = 8,
                                rowsPerBand: Int = 2): Column = {
    require(numPerms % rowsPerBand == 0, "numPerms must divide into bands")
    val sig0 = bindOnce(hs0, hs =>
      when(size(hs) > 0, graft.functions.MinhashExpressions.minhashMins(
        transform(hs, h => h % MinhashP), numPerms)))
    bindOnce(sig0, sig =>
      // sig is NULL for null/empty text (see minhashSigArray) → NULL
      // band keys, not md5-of-empty keys that would bucket all such
      // docs together
      when(sig.isNotNull,
        array((0 until numPerms / rowsPerBand).map { b =>
          md5(concat_ws("|", (0 until rowsPerBand).map(r =>
            element_at(sig, b * rowsPerBand + r + 1)): _*))
        }: _*)))
  }

  /** LSH banding over minhash signatures: band b's key is the md5 of its
    * `rowsPerBand` concatenated signature components. Docs sharing any
    * (band, key) are near-dup candidates.
    */
  def lshBands(sigs: DataFrame, numPerms: Int, rowsPerBand: Int,
               id: String = "doc_id"): DataFrame = {
    require(numPerms % rowsPerBand == 0, "numPerms must divide into bands")
    val numBands = numPerms / rowsPerBand
    val bands = (0 until numBands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"sig${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), md5(concat_ws("|", cols: _*)).as("bkey"))
    }
    sigs.select(col(id), explode(array(bands: _*)).as("bk"))
      .select(col(id), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  /** Candidate near-dup pairs from LSH: self-join on (band, bkey),
    * `a < b`, distinct across bands. `maxBucket` drops pathological
    * buckets (identical boilerplate at corpus scale) before the join.
    */
  def minhashCandidates(docs: DataFrame, numPerms: Int = 8, rowsPerBand: Int = 2,
                        shingleN: Int = 3, maxBucket: Int = 1000,
                        text: String = "text", id: String = "doc_id"): DataFrame = {
    val bands = lshBands(minhashSignatures(docs, numPerms, shingleN, text, id),
      numPerms, rowsPerBand, id)
    // deliberately NOT lineage-truncated: the self-join PLANS the
    // signature pipeline once per side, but the expensive stage (shingle
    // explode + per-shingle md5 + partial k-min agg) sits below an
    // exchange that AQE's stage cache deduplicates at runtime — only the
    // cheap post-shuffle band/window stage re-executes on the broadcast
    // side. A lazy localCheckpoint here was tried and measured a
    // consistent LOSS at sf0.1 (q_lsh_tuned_sweep 4.4 → 5.5 s,
    // q_lsh_precision 1.7 → 2.2, q_ngram_jaccard 1.3 → 1.9,
    // q_quality_dup_decile 2.5 → 3.2: the materialization barrier costs
    // more than the re-executed tail saves), and at corpus scale the
    // planner picks a shuffle join whose both sides reuse the one
    // signature exchange anyway. Contrast incrementalNearDupsTracked,
    // where the EAGER cut is a proven win: there the candidate table
    // re-enters FOUR differently-projected subplans.
    val bounded = bands
      .withColumn("_bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bkey")))
      .where(col("_bsz") <= maxBucket).drop("_bsz")
    val a = bounded.select(col("band"), col("bkey"), col(id).as("doc_a"))
    val b = bounded.select(col("band"), col("bkey"), col(id).as("doc_b"))
    a.join(b, Seq("band", "bkey"))
      .where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** S-curve candidate probability of LSH banding: a pair with true
    * Jaccard `s` shares at least one of `bands` bands of `rowsPerBand`
    * rows with probability 1 − (1 − s^r)^b. Driver-side math used by
    * [[lshBanding]]; q_lsh_autotune replays the same curve inside the
    * engine (and its oracle) with integer-exponent squaring chains.
    */
  def lshCandidateProb(s: Double, bands: Int, rowsPerBand: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, rowsPerBand.toDouble), bands.toDouble)

  /** Choose (bands, rowsPerBand) for a signature of `numPerms`
    * permutations from a TARGET Jaccard threshold, instead of asking the
    * caller to hand-tune banding — the same auto-sizing discipline as
    * [[graft.agg.CountMin.autoWidth]]. Over all divisor pairs b·r =
    * numPerms, minimize the integrated deviation of the S-curve from the
    * ideal step at `threshold` (midpoint rule, 100 points): below-τ mass
    * is the false-candidate rate (wasted verify joins), above-τ miss
    * mass is lost recall. Ties break toward more bands (higher recall).
    * Pure driver-side arithmetic over ≤ numPerms configurations —
    * nothing distributed happens until the chosen plan runs.
    */
  def lshBanding(threshold: Double, numPerms: Int): (Int, Int) = {
    require(threshold > 0 && threshold < 1, "threshold in (0,1)")
    val configs = (1 to numPerms).filter(numPerms % _ == 0)
      .map(r => (numPerms / r, r))
    configs.minBy { case (b, r) =>
      val err = (0 until 100).map { i =>
        val s = (2 * i + 1) / 200.0
        val p = lshCandidateProb(s, b, r)
        if (s < threshold) p else 1.0 - p
      }.sum / 100.0
      (err, -b)
    }
  }

  /** [[minhashCandidates]] with banding auto-tuned from the target
    * Jaccard threshold via [[lshBanding]] — callers state WHAT they
    * consider a near-dup; the band/row split is derived, not tuned.
    */
  def minhashCandidatesAuto(docs: DataFrame, threshold: Double,
                            numPerms: Int = 16, shingleN: Int = 3,
                            maxBucket: Int = 1000,
                            text: String = "text", id: String = "doc_id"): DataFrame = {
    val (_, rowsPerBand) = lshBanding(threshold, numPerms)
    minhashCandidates(docs, numPerms, rowsPerBand, shingleN, maxBucket, text, id)
  }

  /** Cross-source near-duplicate leakage matrix: [[minhashCandidates]]
    * pairs rolled up into unordered source×source counts — the audit a
    * multi-source corpus runs before mixing (how much of source B
    * already circulates in source A, and how much of each source is
    * internally duplicated on the diagonal). The output is at most
    * |sources|² rows — metadata-sized — while all heavy lifting stays
    * in the banded candidate join, which never materializes all pairs
    * (same `maxBucket` degenerate-bucket guard as every LSH path).
    * The two source-attachment joins shuffle on doc id, proportional
    * to the CANDIDATE count, not the corpus pair count.
    */
  def crossSourceDupMatrix(docs: DataFrame, numPerms: Int = 8,
                           rowsPerBand: Int = 2, shingleN: Int = 3,
                           maxBucket: Int = 1000000,
                           source: String = "source",
                           id: String = "doc_id"): DataFrame = {
    val pairs = minhashCandidates(docs, numPerms, rowsPerBand, shingleN,
      maxBucket, id = id)
    val src = docs.select(col(id), col(source))
    pairs
      .join(src.select(col(id).as("doc_a"), col(source).as("_sa")), "doc_a")
      .join(src.select(col(id).as("doc_b"), col(source).as("_sb")), "doc_b")
      .select(least(col("_sa"), col("_sb")).as("source_a"),
        greatest(col("_sa"), col("_sb")).as("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
  }

  /** Exact n-gram Jaccard similarity for given candidate pairs
    * (doc_a, doc_b): |A ∩ B| / |A ∪ B| over distinct shingle sets.
    * Computed distributively: explode both sides' shingles, count
    * intersections via an equi-join grouped per pair.
    */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, shingleN: Int = 3,
                   text: String = "text", id: String = "doc_id"): DataFrame =
    ngramJaccardTracked(docs, pairs, shingleN, text, id)._1

  /** [[ngramJaccard]] plus a release() for its checkpoints — callers that
    * fully materialize the result (e.g. the verified-dedup pipeline,
    * which folds it into an eager edge checkpoint) free the pinned
    * copies instead of carrying them to session end.
    */
  private[dedup] def ngramJaccardTracked(docs: DataFrame, pairs: DataFrame,
                                         shingleN: Int = 3, text: String = "text",
                                         id: String = "doc_id"): (DataFrame, () => Unit) = {
    val (overlap, release) = ngramOverlapTracked(docs, pairs, shingleN, text, id)
    // round(…, 6) to match [[ngramContainmentTracked]]'s jaccard exactly —
    // the two public views of the shared overlap pipeline must return
    // bit-identical jaccard for the same pair
    val res = overlap
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")), 6))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    (res, release)
  }

  /** Shared overlap pipeline behind [[ngramJaccard]] and
    * [[ngramContainment]]: per candidate pair the exact distinct-shingle
    * intersection and both set sizes — (doc_a, doc_b, inter, sz_a, sz_b).
    */
  private def ngramOverlapTracked(docs: DataFrame, pairs: DataFrame,
                                  shingleN: Int, text: String,
                                  id: String): (DataFrame, () => Unit) = {
    // the candidate pairs re-enter two subplans (intersection join and the
    // left join back) — deliberately NOT checkpointed: the subplans are
    // identical, so ReuseExchange deduplicates the LSH pipeline inside
    // the one action, and an explicit eager checkpoint just adds a full
    // materialization (measured ~1.5x slower on q_ngram_jaccard at sf0.1)
    // the shingle table feeds both join sides AND the size table —
    // materialize once instead of re-tokenizing the corpus three times
    val shT = graft.ops.Checkpoints.truncateTracked(
      docs.select(col(id), explode(array_distinct(shingles(col(text), shingleN))).as("sh")),
      eager = false)
    val sh = shT.df
    val sizes = sh.groupBy(col(id)).agg(count(lit(1)).as("sz"))
    val inter = pairs
      .join(sh.withColumnRenamed(id, "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
      .join(sh.withColumnRenamed(id, "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
      .where(col("sh_a") === col("sh_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    val res = pairs
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("inter"))
      .join(sizes.withColumnRenamed(id, "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed(id, "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("inter"), col("sz_a"), col("sz_b"))
    (res, shT.release)
  }

  /** Jaccard + DIRECTIONAL containment per candidate pair (Broder 1997):
    * containment(a in b) = |A∩B| / |A|. A symmetric Jaccard gate misses
    * a small doc quoted whole inside a large one (inter/union stays low
    * however complete the inclusion); the directional measure catches
    * exactly that superset/quotation case, which is why dedup recipes
    * gate on max(containment) alongside Jaccard. Same cost as
    * [[ngramJaccard]] — three divisions over one shared overlap pipeline.
    */
  def ngramContainment(docs: DataFrame, pairs: DataFrame, shingleN: Int = 3,
                       text: String = "text", id: String = "doc_id"): DataFrame =
    ngramContainmentTracked(docs, pairs, shingleN, text, id)._1

  /** [[ngramContainment]] plus the shingle checkpoint's release() — the
    * same contract as [[ngramJaccardTracked]]: callers that fully
    * materialize the result free the pinned shingle copy instead of
    * carrying it to session end.
    */
  private[dedup] def ngramContainmentTracked(
      docs: DataFrame, pairs: DataFrame, shingleN: Int = 3,
      text: String = "text", id: String = "doc_id"): (DataFrame, () => Unit) = {
    val (overlap, release) = ngramOverlapTracked(docs, pairs, shingleN, text, id)
    val res = overlap.select(col("doc_a"), col("doc_b"),
      round(col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")), 6).as("jaccard"),
      round(col("inter").cast("double") / col("sz_a"), 6).as("cont_a_in_b"),
      round(col("inter").cast("double") / col("sz_b"), 6).as("cont_b_in_a"))
    (res, release)
  }

  /** Near-dup clusters → canonical representative: treat candidate pairs
    * as edges, find connected components by iterative min-label
    * propagation (each doc adopts the smallest doc_id reachable), keep
    * the min doc per component.
    *
    * Scale: label propagation is O(diameter) joins; near-dup clusters
    * have tiny diameters (pairs come from shared LSH buckets), so a
    * handful of rounds converges in practice; the loop stops early when
    * no label changes. Each iteration is one shuffle join on doc_id.
    * `maxIter` is a safety cap well above any real cluster diameter — if
    * it is ever hit without convergence the result would silently
    * under-merge, so that case raises instead of returning.
    */
  def dedupClusters(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    import graft.ops.Checkpoints
    // materialize the edge list once — it re-enters every propagation
    // iteration AND the convergence check, and recomputing the upstream
    // LSH pipeline per iteration would dominate the whole job. The
    // two-sided union is DELIBERATE: an explode(array(fwd, rev))
    // single-pass form was measured and rejected — the union's arms are
    // independent stages that overlap on idle capacity while AQE stage
    // reuse already dedups the candidate join's shuffle stages, so the
    // "one pass" form just serializes the tail (q_dedup_canonical
    // 4.3 → 5.1 s, q_dedup_corpus 2.6 → 3.2 at sf0.1).
    val edgesT = Checkpoints.truncateTracked(
      pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
        .unionByName(pairs.select(col("doc_b").as("a"), col("doc_a").as("b"))),
      eager = true)
    val edges = edgesT.df
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("label", col("id"))
    // superseded-generation release: each iteration's checkpoint pins a
    // full copy of the label table (executor blocks locally, an FS dir
    // reliably); once iteration k+1 materializes, iteration k's copy is
    // garbage — up to maxIter=50 pinned generations otherwise, which at
    // 100 TB is an eviction storm (and on the reliable path unbounded
    // checkpoint-dir growth)
    var releasePrev: () => Unit = () => ()
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val viaNeighbor = edges.join(labels.withColumnRenamed("id", "b")
          .withColumnRenamed("label", "nlabel"), Seq("b"))
        .groupBy(col("a").as("id")).agg(min(col("nlabel")).as("nmin"))
      // one pass computes the new label AND the changed flag; the eager
      // checkpoint (local or reliable — Checkpoints.truncate) truncates
      // lineage, so the convergence probe is a cached scan, not a
      // recomputed join
      val newLabel = least(col("label"), coalesce(col("nmin"), col("label")))
      val updatedT = Checkpoints.truncateTracked(
        labels.join(viaNeighbor, Seq("id"), "left")
          .select(col("id"), newLabel.as("label"),
            (newLabel =!= col("label")).as("_changed")),
        eager = true)
      releasePrev() // the new generation is materialized; drop the old one
      releasePrev = updatedT.release
      converged = updatedT.df.where(col("_changed")).isEmpty
      labels = updatedT.df.drop("_changed")
      iter += 1
    }
    edgesT.release() // the final labels no longer reference the edge list
    if (!converged) {
      releasePrev()
      throw new IllegalStateException(
        s"dedupClusters: label propagation did not converge in $maxIter rounds — " +
          "component diameter exceeds the cap; raise maxIter")
    }
    // the final generation stays checkpointed — it IS the result's data;
    // callers that materialize downstream can clear it via session-level
    // hygiene (catalog/persistent-RDD cleanup)
    labels.select(col("id").as("doc_id"), col("label").as("cluster"))
  }

  /** Full near-dup dedup: LSH candidates → clusters → keep the smallest
    * doc_id per cluster; docs in no cluster keep themselves. Returns
    * (doc_id, keep) — `keep` false for non-canonical near-dups.
    */
  def dedupCorpus(docs: DataFrame, numPerms: Int = 8, rowsPerBand: Int = 2,
                  shingleN: Int = 3, text: String = "text",
                  id: String = "doc_id"): DataFrame = {
    val pairs = minhashCandidates(docs, numPerms, rowsPerBand, shingleN,
      maxBucket = 1000, text = text, id = id)
    val clusters = dedupClusters(pairs)
    val canonical = clusters.groupBy("cluster").agg(min(col("doc_id")).as("canon"))
    val marked = clusters.join(canonical, "cluster")
      .select(col("doc_id"), (col("doc_id") === col("canon")).as("keep"))
    docs.select(col(id)).join(marked, Seq(id), "left")
      .select(col(id), coalesce(col("keep"), lit(true)).as("keep"))
  }

  /** Quality-aware canonical selection (the FineWeb/SemDeDup keep rule):
    * like [[dedupCorpus]], but the survivor of each near-dup cluster is
    * the doc maximizing `score` (ties broken toward the smaller id)
    * rather than blindly the smallest id — dedup should discard the
    * WORSE copies. The pick is two map-side-combinable hash aggregates
    * (max score per cluster, then min id among the docs achieving it —
    * id-type-generic, no numeric negation trick), deliberately not a
    * per-cluster window sort (a pathological mega-cluster would
    * otherwise serialize through one task's sort). Unclustered docs
    * keep=true via the left join, as in [[dedupCorpus]].
    */
  def dedupCorpusBest(docs: DataFrame, score: Column, numPerms: Int = 8,
                      rowsPerBand: Int = 2, shingleN: Int = 3,
                      text: String = "text", id: String = "doc_id")
      : DataFrame = {
    val pairs = minhashCandidates(docs, numPerms, rowsPerBand, shingleN,
      maxBucket = 1000, text = text, id = id)
    val clusters = dedupClusters(pairs)
    val scored = graft.ops.Checkpoints.truncate(clusters.join(
      docs.select(col(id), score.as("_s")), Seq(id)))
    val best = scored.groupBy("cluster").agg(max(col("_s")).as("_m"))
    val canonical = scored.join(best, "cluster")
      .where(col("_s") === col("_m"))
      .groupBy("cluster").agg(min(col(id)).as("canon"))
    val marked = clusters.join(canonical, "cluster")
      .select(col(id), (col(id) === col("canon")).as("keep"))
    docs.select(col(id)).join(marked, Seq(id), "left")
      .select(col(id), coalesce(col("keep"), lit(true)).as("keep"))
  }

  /** Production-shape dedup: LSH candidates are VERIFIED with exact
    * n-gram Jaccard before clustering, so LSH false positives (docs that
    * merely collide in a band) cannot glue unrelated documents into one
    * cluster. `threshold` is the Jaccard similarity above which two docs
    * count as near-duplicates (0.8 is the usual training-data setting).
    */
  def dedupCorpusVerified(docs: DataFrame, threshold: Double = 0.8,
                          numPerms: Int = 8, rowsPerBand: Int = 2,
                          shingleN: Int = 3, text: String = "text",
                          id: String = "doc_id"): DataFrame = {
    val candidates = minhashCandidates(docs, numPerms, rowsPerBand, shingleN,
      maxBucket = 1000, text = text, id = id)
    val (jac, releaseShingles) = ngramJaccardTracked(docs, candidates, shingleN, text, id)
    val verified = jac
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b")
    // dedupClusters eagerly checkpoints the verified edges up front, so
    // the shingle table is fully consumed once it returns
    val clusters = dedupClusters(verified)
    releaseShingles()
    val canonical = clusters.groupBy("cluster").agg(min(col("doc_id")).as("canon"))
    val marked = clusters.join(canonical, "cluster")
      .select(col("doc_id"), (col("doc_id") === col("canon")).as("keep"))
    docs.select(col(id)).join(marked, Seq(id), "left")
      .select(col(id), coalesce(col("keep"), lit(true)).as("keep"))
  }

  /** Embedding-cosine near-duplicate pairs: random-hyperplane LSH buckets
    * (see [[graft.sim.Similarity.buildLshIndex]]) bound the candidate set,
    * then exact cosine filters within buckets. `nBits` trades recall for
    * bucket size; `nTables` > 1 runs that many INDEPENDENT hyperplane
    * families and unions their candidates (band-style multi-table LSH,
    * exactly like MinHash banding): a qualifying pair split across
    * buckets in one table is recovered when any other table co-buckets
    * it — recall ≈ 1-(1-p)^nTables per pair at ~nTables× index cost.
    * This is the 100 TB recall path; single-table remains the default.
    *
    * Candidate pair ids are distinct'd BEFORE the exact-cosine gate, so a
    * pair colliding in several tables is verified once; embeddings are
    * joined back by id (two hash joins on the id key), not carried
    * through the union.
    */
  def embeddingNearDups(vectors: DataFrame, dim: Int, threshold: Double,
                        nBits: Int = 8, id: String = "vec_id",
                        emb: String = "embedding", nTables: Int = 1,
                        maxBucket: Int = 1000000): DataFrame = {
    import graft.sim.Similarity
    val pairs = (0 until nTables).map { t =>
      val idx = Similarity.buildLshIndex(vectors, dim, nBits, id, emb, table = t)
      // same degenerate-bucket guard as the text LSH path: a bucket of
      // all-identical embeddings (zero vectors, boilerplate assets) would
      // otherwise emit O(n²) pairs from one task at corpus scale
      val bounded = idx.withColumn("_bsz", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("bucket")))
        .where(col("_bsz") <= maxBucket).drop("_bsz")
      val a = bounded.select(col("bucket"), col(id).as("vec_a"))
      val b = bounded.select(col("bucket"), col(id).as("vec_b"))
      a.join(b, Seq("bucket"))
        .where(col("vec_a") < col("vec_b"))
        .select("vec_a", "vec_b")
    }.reduce(_ unionByName _).distinct()
    val ea = vectors.select(col(id).as("vec_a"), col(emb).as("emb_a"))
    val eb = vectors.select(col(id).as("vec_b"), col(emb).as("emb_b"))
    pairs.join(ea, "vec_a").join(eb, "vec_b")
      .withColumn("cosine_sim", Similarity.cosine(col("emb_a"), col("emb_b")))
      .where(col("cosine_sim") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cosine_sim"), 6).as("cosine_sim"))
  }

  /** Semantic near-duplicate pairs, SemDeDup-style (Abbas et al., 2023,
    * arXiv:2303.09540): candidate buckets come from TRAINED k-means cells
    * ([[graft.sim.Similarity.kmeansFit]]) instead of random hyperplanes —
    * clusters follow the data's actual density, so semantically-close
    * pairs co-bucket at far smaller k than random projections need bits.
    * Exact cosine then gates within cells, joined back by id exactly as
    * [[embeddingNearDups]] does.
    *
    * Scale shape: assignment rides the scan (one pass, k·dim broadcast-
    * class centroids); the within-cell self-join costs Σ cell² — at
    * corpus scale k grows with the corpus (SemDeDup uses ~100k clusters
    * for billions of docs) so cells stay bounded, and the same
    * `maxCell` window guard as every other candidate generator drops
    * degenerate cells instead of letting one emit O(n²) pairs.
    */
  def semanticNearDups(vectors: DataFrame, k: Int, iters: Int,
                       threshold: Double, id: String = "vec_id",
                       emb: String = "embedding",
                       maxCell: Int = 1000000): DataFrame = {
    import graft.sim.Similarity
    // checkpoint the (id, cell) assignment before the self-join — same
    // discipline as simhashPairs' signature table: both join sides
    // consume it, and without the lineage cut the k·dim-cosine
    // assignment scan (the dominant cost at corpus scale) plans TWICE
    // (the broadcast side wraps its copy in a BroadcastExchange, so
    // ReuseExchange cannot deduplicate across the two). ~12 bytes/vector.
    val assign = graft.ops.Checkpoints.truncate(
      Similarity.kmeansFit(vectors, k, iters, id, emb)._1)
    val bounded = assign.withColumn("_csz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("cell")))
      .where(col("_csz") <= maxCell).drop("_csz")
    val a = bounded.select(col("cell"), col(id).as("vec_a"))
    val b = bounded.select(col("cell"), col(id).as("vec_b"))
    val pairs = a.join(b, Seq("cell"))
      .where(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
    val ea = vectors.select(col(id).as("vec_a"), col(emb).as("emb_a"))
    val eb = vectors.select(col(id).as("vec_b"), col(emb).as("emb_b"))
    pairs.join(ea, "vec_a").join(eb, "vec_b")
      .withColumn("cosine_sim", Similarity.cosine(col("emb_a"), col("emb_b")))
      .where(col("cosine_sim") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cosine_sim"), 6).as("cosine_sim"))
  }

  /** Benchmark decontamination: training documents sharing at least one
    * word n-gram with an evaluation corpus, with the count of distinct
    * shared shingles per document (the n-gram-overlap decontamination
    * rule used to scrub eval sets out of pre-training data; 13-grams in
    * the published recipes, parameterized here).
    *
    * Scale shape: both corpora explode to distinct shingles (linear, one
    * pass), the eval side dedupes to the distinct shingle set, and the
    * overlap is ONE equi-join keyed on the shingle — at 100 TB train /
    * small eval the eval shingle set broadcasts and the whole check
    * rides the training scan; Spark picks that automatically from size
    * estimates. The per-doc count aggregates map-side first. No
    * all-pairs stage exists at any size.
    */
  def contaminatedDocs(train: DataFrame, eval: DataFrame, shingleN: Int = 13,
                       text: String = "text", id: String = "doc_id"): DataFrame = {
    val tSh = train.select(col(id),
      explode(array_distinct(shingles(col(text), shingleN))).as("sh"))
    val eSh = eval.select(
      explode(array_distinct(shingles(col(text), shingleN))).as("sh")).distinct()
    tSh.join(eSh, Seq("sh"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("shared_ngrams"))
  }

  /** Contamination SPAN report — how long the verbatim overlaps are, not
    * just that they exist: per flagged training doc, the longest run of
    * CONSECUTIVE shingle positions matching the eval corpus and the
    * number of distinct runs (islands). A run of R consecutive matched
    * n-grams is a verbatim shared span of R+n−1 tokens — the number a
    * decontamination policy actually thresholds on (one stray 13-gram is
    * noise; a 200-token island is a leaked benchmark item).
    *
    * The classic gaps-and-islands: matched positions minus their
    * per-doc rank are constant within an island. Scale shape: same
    * broadcast shingle equi-join as [[contaminatedDocs]]; the island
    * window partitions by doc (bounded by doc length, never global) and
    * only MATCHED positions reach it — eval-sized, not corpus-sized.
    */
  def contaminationSpans(train: DataFrame, eval: DataFrame,
                         shingleN: Int = 13, text: String = "text",
                         id: String = "doc_id"): DataFrame = {
    val tSh = train.select(col(id),
      posexplode(shingles(col(text), shingleN)).as(Seq("pos", "sh")))
    val eSh = eval.select(
      explode(array_distinct(shingles(col(text), shingleN))).as("sh")).distinct()
    val hits = tSh.join(eSh, Seq("sh")).select(col(id), col("pos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(id)).orderBy(col("pos"))
    hits.withColumn("_grp", col("pos") - row_number().over(w))
      .groupBy(col(id), col("_grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col(id))
      .agg(max(col("run")).as("max_run"),
        count(lit(1)).as("n_islands"))
      .withColumn("longest_span_tokens",
        col("max_run") + lit((shingleN - 1).toLong))
  }

  /** The k-gram rolling-hash stream for winnowing: ordered shingle hashes
    * per document. Project this into a NAMED COLUMN before calling
    * [[winnowFromHashes]] — see that method's scaladoc for why.
    */
  def shingleHashes(text: Column, k: Int = 3): Column =
    // one codegen pass (positional, non-distinct) — see shingles()
    graft.functions.HashExpressions.shingleHashes(text, k, distinct = false)

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD'03 — the
    * rolling-hash fingerprinting scheme) over a pre-projected hash-stream
    * column: each window of `w` consecutive hashes contributes its
    * minimum; the distinct minima are the document's fingerprints.
    * Guarantee: two documents sharing any token run of length ≥ w+k-1
    * share at least one fingerprint — the standard plagiarism/near-dup
    * sketch with bounded density 2/(w+1).
    *
    * The hash stream binds once ([[bindOnce]]): it re-enters this
    * expression w+2 times (every shifted view, the size guard, the
    * fallback), and Catalyst would otherwise re-inline — re-tokenizing
    * and re-md5-ing the document per occurrence (measured ~5x slower at
    * sf0.1; a staged projection does NOT help, CollapseProject inlines
    * right through it). The window minima come from the same
    * shifted-view `zip_with` trick as [[shingles]] (w views folded with
    * `least`), never a per-position slice. Engine-portable hashing
    * ([[shingleHash]]) so the DuckDB oracle replays it exactly.
    */
  def winnowFromHashes(hs0: Column, w: Int = 4): Column =
    bindOnce(hs0, { hs =>
      val m = greatest(size(hs) - (w - 1), lit(1))
      val views = (0 until w).map(i => slice(hs, lit(i + 1), m))
      val mins = views.reduce((a, b) => zip_with(a, b, (x, y) => least(x, y)))
      array_sort(array_distinct(
        when(size(hs) >= w, mins).otherwise(array(array_min(hs)))))
    })

  /** Winnowing fingerprints per document. */
  def winnowFingerprints(docs: DataFrame, k: Int = 3, w: Int = 4,
                         text: String = "text", id: String = "doc_id"): DataFrame =
    docs.select(col(id),
      winnowFromHashes(shingleHashes(col(text), k), w).as("fingerprints"))

  /** SimHash-style 16-bit fingerprint, engine-portable: bit j of the
    * fingerprint is the majority vote across the doc's distinct tokens of
    * whether hex digit j of md5(token) is >= '8' (i.e. the digit's top
    * bit). Emitted as a 16-char '0'/'1' string (msb-first) so any SQL
    * engine can reproduce and compare via Hamming distance on characters.
    */
  def simhash16(docs: DataFrame, text: String = "text", id: String = "doc_id"): DataFrame = {
    // the [[simhashBands]] treatment: the vote for digit
    // j was `substring(h, j+1, 1).isin('8'..'f')` — 16 one-char string
    // slices + set probes per TOKEN row over the rendered md5 hex. The
    // digits now come off the DIGEST as 44-bit long chunks
    // ([[graft.functions.Md5Chunks]]) and each vote is a codegen
    // shift/mask: digit ≥ '8' ⟺ the nibble's top bit is set, so the
    // votes — and the 16-char '0'/'1' fingerprint the oracle replays —
    // are identical.
    val tok = docs.select(col(id),
      explode(array_distinct(toks(col(text)))).as("t"))
      .withColumn("_hc", graft.functions.HashExpressions.md5Chunks(col("t"), 16))
    def topBit(j: Int): Column = {
      val c = j / 11
      val len = math.min(11, 16 - c * 11)
      shiftright(col("_hc").getItem(c), 4 * (len - 1 - (j % 11)) + 3)
        .bitwiseAND(lit(1L))
    }
    val bitVotes = (0 until 16).map(j =>
      sum(topBit(j) * lit(2L) - lit(1L)).as(s"v$j"))
    val votes = tok.groupBy(col(id)).agg(bitVotes.head, bitVotes.tail: _*)
    val bits = (0 until 16).map(j => when(col(s"v$j") > 0, "1").otherwise("0"))
    votes.select(col(id), concat(bits: _*).as("simhash"))
  }

  /** 64-bit SimHash (Charikar, STOC'02 — the fingerprint Manku/Jain/
    * Sarma's WWW'07 web-dedup paper built on), packed as FOUR 16-bit
    * band ints `b0..b3`. The bands serve double duty: together they are
    * the signature; individually they are LSH keys for [[simhashPairs]]
    * (pigeonhole: two signatures within Hamming distance 3 of each other
    * differ in at most 3 of the 4 bands, so at least one band matches
    * exactly — banding loses NO pairs at the ≤3 threshold).
    *
    * Bit layout, shared verbatim with the DuckDB oracle: hex digit
    * j ∈ 0..15 of md5(token) votes on bits (d_j >> b) & 1 for b ∈ 0..3;
    * band k packs digits 4k..4k+3 at in-band position (j-4k)*4 + b.
    * One explode + one 64-column partial-aggregated groupBy — a single
    * shuffle of 64 ints per doc regardless of corpus size.
    */
  def simhash64(docs: DataFrame, text: String = "text", id: String = "doc_id"): DataFrame =
    simhashBands(docs, nBands = 4, text, id)

  /** 128-bit SimHash as EIGHT 16-bit bands `b0..b7` — the wider-band
    * variant for corpora where the 64-bit band space saturates (the d3
    * `scale10x_diag` counters showed mean bucket depth rising with
    * corpus size: 4 bands × 2^16 keys only spread so far). Same md5
    * backbone — the digest has 32 hex digits, the 64-bit form uses half
    * of them — so the cost is the same one explode + one partial-agg
    * shuffle, just 128 vote columns. Pigeonhole: lossless for pairs at
    * Hamming ≤ 7 when used with [[simhashPairs128]].
    */
  def simhash128(docs: DataFrame, text: String = "text", id: String = "doc_id"): DataFrame =
    simhashBands(docs, nBands = 8, text, id)

  /** Shared n-band SimHash core: hex digit j ∈ 0..4·nBands-1 of
    * md5(token) votes on bits (d_j >> b) & 1; band k packs digits
    * 4k..4k+3 at in-band position (j-4k)·4 + b. md5 supplies 32 hex
    * digits, so nBands ≤ 8.
    */
  /** Hex digits whose value has bit `b` set — the vote sets shared by
    * the aggregate and scalar SimHash forms (and mirrored verbatim by
    * the DuckDB oracle generator).
    */
  private def hexWithBit(b: Int): Seq[String] =
    (0 until 16).filter(d => ((d >> b) & 1) == 1).map(_.toHexString)

  /** [[simhash64]]'s four 16-bit bands as ONE scalar `array<int>`
    * Column — the SQL surface's `graft_simhash64(text)`. Identical bit
    * layout (hex digit j of md5(token) votes on bits (d_j>>b)&1; band k
    * packs digits 4k..4k+3 at in-band position (j−4k)·4+b), folded per
    * row: one md5 per distinct token (the hash array binds once via
    * [[bindOnce]]), then per band a single 16-counter vote fold.
    * Integer votes make the fold order-free, so the scalar equals the
    * aggregate path row for row. NULL for null text / zero-token docs —
    * the aggregate path emits no row for those. Zero shuffle (rides the
    * scan); the aggregate path stays preferable when the whole corpus
    * needs signatures anyway (one explode + partial-agg shuffle beats
    * per-row folds at equal output).
    */
  def simhash64Array(text: Column): Column =
    // codegen ([[graft.functions.SimhashBands]], per-task work): one
    // primitive pass over the raw md5 DIGEST
    // bytes per distinct token — no hex string, no interpreted HOF
    // fold. Identical digit/bit layout (hex digit j is nibble j of the
    // digest), so the band ints — and the DuckDB replay — are
    // unchanged; DedupSpec + ScalarTwinPropSpec pin scalar ≡ aggregate.
    // NULL for null text / zero-token docs, as before (the expression
    // returns null on an empty token array).
    graft.functions.SimhashExpressions.simhashBands(
      array_distinct(toks(text)), 4)

  private def simhashBands(docs: DataFrame, nBands: Int,
                           text: String, id: String): DataFrame = {
    require(nBands >= 1 && nBands <= 8, s"md5 has 32 hex digits: nBands <= 8, got $nBands")
    val nd = 4 * nBands
    // hot path (per-task work): the vote for
    // (digit j, bit b) used to be `substring(h, j+1, 1).isin(<8 hex
    // chars>)` — 4·nd string slices + set probes per TOKEN row, each
    // allocating a 1-char string. The md5 hex prefix is parsed ONCE per
    // row into 11-digit (44-bit) long chunks, and each vote is a
    // codegen'd shift/mask on a long. The chunks come straight off
    // the md5 DIGEST bytes ([[graft.functions.Md5Chunks]]) — no 32-char
    // hex render, no substring slices, no conv re-parse per token row
    // (HashExprSpec pins chunk ≡ conv(substring(md5(t),…),16,10)).
    // Bit-for-bit the same votes — hex digit j of md5(t), bit b — so
    // the band ints (and the DuckDB oracle replay, which mirrors the
    // digit/bit layout) are unchanged.
    val nChunks = (nd + 10) / 11
    def chunkLen(c: Int): Int = math.min(11, nd - c * 11)
    val chunkCols = (0 until nChunks).map { c =>
      col("_hc").getItem(c).as(s"_h$c")
    }
    val tok = docs.select(col(id),
      explode(array_distinct(toks(col(text)))).as("t"))
      .withColumn("_hc", graft.functions.HashExpressions.md5Chunks(col("t"), nd))
      .select(col(id) +: chunkCols: _*)
    // bit b of hex digit j, as a 0/1 long: digit j lives in chunk j/11
    // at in-chunk position j%11 (most-significant-first, exactly the
    // hex string's reading order)
    def bit(j: Int, b: Int): Column = {
      val c = j / 11
      val shift = 4 * (chunkLen(c) - 1 - (j % 11)) + b
      shiftright(col(s"_h$c"), shift).bitwiseAND(lit(1L))
    }
    val votes = for { j <- 0 until nd; b <- 0 until 4 } yield
      sum(bit(j, b) * lit(2L) - lit(1L)).as(s"v_${j}_$b")
    val agg = tok.groupBy(col(id)).agg(votes.head, votes.tail: _*)
    val bandCols = (0 until nBands).map { k =>
      (for { jj <- 0 until 4; b <- 0 until 4 } yield
        when(col(s"v_${4 * k + jj}_$b") > 0, lit(1 << (jj * 4 + b)))
          .otherwise(lit(0))).reduce(_ + _).as(s"b$k")
    }
    agg.select(col(id) +: bandCols: _*)
  }

  /** SimHash near-duplicate pairs END-TO-END: signature → band-bucket
    * self-join (never all-pairs) → exact Hamming verify. Returns
    * (doc_a, doc_b, hamming) with doc_a < doc_b and hamming ≤ maxHamming.
    *
    * Scale shape mirrors [[minhashCandidates]]: candidates come from an
    * equi-join on (band, bkey) so the cost is Σ bucket², not n²; the
    * `maxBucket` window guard drops degenerate buckets (a bucket that
    * big means the band carries no information for those docs). Hamming
    * is 4 codegen'd `bit_count(xor)` ops on the band ints — no string
    * comparison in the hot path.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3, maxBucket: Int = 1000,
                   text: String = "text", id: String = "doc_id"): DataFrame = {
    require(maxHamming <= 3,
      "4-band pigeonhole only guarantees recall for Hamming <= 3")
    // checkpoint the signature table: both sides of the candidate
    // self-join consume it, and without the lineage cut Spark plans the
    // token-explode + 64-column aggregate TWICE — the dominant cost at
    // corpus scale. The checkpointed table is ~20 bytes/doc (id + 4
    // band ints): negligible storage for halving the heavy stage.
    simhashPairsBanded(docs, nBands = 4, maxHamming, maxBucket, text, id)
  }

  /** [[simhashPairs]] over the 128-bit signature: 8-band pigeonhole,
    * lossless recall for Hamming ≤ 7 — the wider-band variant for
    * corpora where 4 bands over 2^16 keys saturate (mean bucket depth
    * grows with corpus size; see SCALING.md's d3 attribution). Same
    * Σ bucket² join shape and `maxBucket` guard; twice the signature
    * bits buys 2× band keys AND a deeper verify threshold.
    */
  def simhashPairs128(docs: DataFrame, maxHamming: Int = 7, maxBucket: Int = 1000,
                      text: String = "text", id: String = "doc_id"): DataFrame = {
    require(maxHamming <= 7,
      "8-band pigeonhole only guarantees recall for Hamming <= 7")
    simhashPairsBanded(docs, nBands = 8, maxHamming, maxBucket, text, id)
  }

  private def simhashPairsBanded(docs: DataFrame, nBands: Int, maxHamming: Int,
                                 maxBucket: Int, text: String, id: String): DataFrame =
    bandedHammingPairs(simhashBands(docs, nBands, text, id),
      nBands, maxHamming, maxBucket, id)

  /** The pigeonhole band self-join over ANY precomputed per-band
    * signature table `sig` (columns `id`, `b0..b{nBands-1}`): pairs
    * sharing a band bucket, verified at total Hamming ≤ `maxHamming`.
    * Lossless for maxHamming < nBands (a closer pair must agree on
    * some whole band). Shared by the SimHash text path and the
    * multimodal dHash path — one join shape, two signature producers.
    * `sig` is checkpointed here: both join sides consume it.
    */
  private[graft] def bandedHammingPairs(sigIn: DataFrame, nBands: Int,
                                        maxHamming: Int, maxBucket: Int,
                                        id: String): DataFrame = {
    val bn = (0 until nBands).map(k => s"b$k")
    val sig = graft.ops.Checkpoints.truncate(sigIn)
    val bands = sig.select(col(id) +: bn.map(col) :+
        explode(array((0 until nBands).map(k =>
          struct(lit(k).as("band"), col(s"b$k").as("bkey"))): _*)).as("e"): _*)
      .select(col(id) +: bn.map(col) :+
        col("e.band").as("band") :+ col("e.bkey").as("bkey"): _*)
    val bounded = bands
      .withColumn("_bsz", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("band", "bkey")))
      .where(col("_bsz") <= maxBucket).drop("_bsz")
    val a = bounded.select(col("band") +: col("bkey") +: col(id).as("doc_a") +:
      bn.zipWithIndex.map { case (b, k) => col(b).as(s"a$k") }: _*)
    val b = bounded.select(col("band") +: col("bkey") +: col(id).as("doc_b") +:
      bn.zipWithIndex.map { case (b, k) => col(b).as(s"c$k") }: _*)
    a.join(b, Seq("band", "bkey"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(" + (0 until nBands).map(k => s"bit_count(a$k ^ c$k)")
          .mkString(" + ") + " AS BIGINT)").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct() // a pair can match in several bands; hamming is identical
  }

  /** Passage-level exact dedup (the CCNet recipe, Wenzek et al. 2020,
    * applied paragraph-wise there; token-window-wise here since the
    * corpus has no paragraph marks): split every document into
    * NON-OVERLAPPING `window`-token passages, hash each, and keep only
    * the corpus-wide FIRST occurrence of every distinct passage (first =
    * smallest (doc id, passage position)). Documents come back
    * reassembled from their surviving passages, with kept/total counts;
    * a document whose every passage already occurred elsewhere survives
    * as a row with `kept_chunks = 0` and a NULL `dedup_text` — the
    * caller decides whether empty shells are dropped.
    *
    * Distinct from document-level dedup ([[exact]]/[[minhashCandidates]]):
    * those drop whole near-identical documents; this removes repeated
    * boilerplate (headers, license blocks, navigation chrome) EMBEDDED in
    * otherwise unique documents — in web corpora the two are complementary
    * passes and CCNet runs the paragraph one first.
    *
    * Scale shape (100 TB): chunking is a pure Column 1→N in the scan
    * stage ([[graft.text.TextAnalysis.chunk]]); then exactly two
    * shuffles — one window over md5(passage) whose partition sizes equal
    * duplicate multiplicity (never a global sort), one groupBy(doc) for
    * reassembly. The shuffle key is the 16-byte hash, not the passage
    * text. First-occurrence choice is a total order on (id, chunk_id),
    * so the result is partitioning- and engine-independent.
    */
  def passageDedup(docs: DataFrame, window: Int,
                   text: String = "text", id: String = "doc_id"): DataFrame = {
    val ch = graft.text.TextAnalysis.chunk(docs, window, window, text, id)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("chunk_text")))
      .orderBy(col(id), col("chunk_id"))
    ch.withColumn("_rn", row_number().over(w))
      .groupBy(col(id))
      .agg(
        count(lit(1)).as("total_chunks"),
        sum(when(col("_rn") === 1, 1L).otherwise(0L)).as("kept_chunks"),
        sort_array(collect_list(when(col("_rn") === 1,
          struct(col("chunk_id"), col("chunk_text"))))).as("_kept"))
      .select(col(id), col("total_chunks"), col("kept_chunks"),
        when(col("kept_chunks") === 0, lit(null).cast("string"))
          .otherwise(array_join(transform(col("_kept"), _.getField("chunk_text")),
            " ")).as("dedup_text"))
  }

  /** Cross-document duplicated character spans — the suffix-array-free
    * approximation of exact substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better": their
    * ExactSubstr finds every ≥50-char repeat with a corpus suffix
    * array). Here: fixed-length `winLen` character windows at fixed
    * `stride`, hashed; a window is duplicated when its hash occurs in
    * ≥ 2 DISTINCT documents (within-doc repetition is q_repetition's
    * job). Any cross-doc verbatim repeat of length ≥ winLen + stride - 1
    * is guaranteed to contain a shared aligned window in both copies
    * only when stride divides the alignment — with stride ≤ winLen/2
    * every repeat of length ≥ 2·winLen is caught regardless of
    * alignment, which is the recall/cost dial. Returns per-doc
    * `(doc_id, total_windows, dup_windows, dup_frac)`; docs shorter
    * than winLen are excluded (no window fits).
    *
    * Scale shape (100 TB): windows ∝ chars/stride ride the scan as a
    * pure Column transform+explode; then ONE groupBy on the 16-byte
    * hash for the cross-doc occurrence count and one equi-join back —
    * never a doc-pair comparison, and the shuffle carries hashes, not
    * text. The duplicated-hash side of the join is the (typically tiny)
    * duplicate set only.
    */
  /** (doc_id, i, seg, h): `winLen`-char windows of `text` at `stride`,
    * with their md5 hash — the shared scan stage of [[duplicateWindows]]
    * and [[substringTrim]]. The column name is backtick-quoted into the
    * SQL lambda so non-plain identifiers resolve the same way they do in
    * the Column-API parts.
    */
  private def charWindows(docs: DataFrame, winLen: Int, stride: Int,
                          text: String, id: String,
                          spreadChars: Int = DefaultSpreadChars): DataFrame = {
    require(winLen >= 1 && stride >= 1, s"winLen/stride must be >= 1")
    require(spreadChars > winLen, s"spreadChars must exceed winLen")
    val tq = s"`$text`"
    // Two pathologies shape this operator, both discovered by measuring
    // (LongDocProbe), both invisible at the 4 KB-document scale the
    // suite corpora have:
    //
    //  1. QUADRATIC window extraction. SQL `substring(text, i, winLen)`
    //     on a UTF8String WALKS from byte 0 to find code point i (there
    //     is no ASCII fast path), so extracting every window of one
    //     document costs Sigma i ~ len^2/(2*stride) character steps — a
    //     32 MB document at stride 1 is ~5*10^14 steps, i.e. hours on
    //     the one core that owns the row (jstack: UTF8String.substring
    //     dominates). The fix: cut the text ONCE, linearly, into
    //     `chunk`-position SLICES in a typed flatMap (an incrementally
    //     advanced String.offsetByCodePoints cursor — one walk over the
    //     whole text), then window WITHIN slices, where the per-window
    //     walk is bounded by the slice length, not the document length.
    //     Total walk: len * (1 + chunk*stride/2/...) ~ len * chunk/2
    //     character steps per doc inside 512-char-position slices —
    //     linear in corpus size with a small constant.
    //
    //  2. TASK SKEW. All windows of a document otherwise stream through
    //     the single task that owns its row: one 100 MB document in a
    //     4 KB corpus serializes ~100 M hashes on one core while the
    //     rest idle (and its partial-agg hash map OOMs the task long
    //     before that). The slice rows are therefore REPARTITIONED by
    //     (doc, chunk), spreading a pathological document across the
    //     cluster. The shuffled bytes are ~(1 + winLen/(chunk*stride))x
    //     the sliced documents' text — noise next to the window-hash
    //     shuffle this operator already pays (~90 bytes PER CHARACTER
    //     at stride 1).
    //
    // Dense strides (winLen/stride > 4, i.e. the stride-1 full-recall
    // mode) always take the sliced+spread path: every document pays the
    // quadratic walk otherwise, not just huge ones. Sparse strides
    // (winLen/stride <= 4; per-doc walk ~ len^2/(2*stride) stays sub-
    // second below ~256 KB) keep the shuffle-free single in-task
    // transform, and route only docs >= `spreadChars` through the
    // sliced path. Window positions are identical on every path.
    val dense = stride * 4 < winLen
    val chunk = 512
    val origIdType = docs.select(col(id)).schema.head.dataType
    def sliced(src: DataFrame): DataFrame = {
      // the id value rides the typed flatMap AS-IS (Row in, Row out with
      // an explicit schema) — never cast through a string, which is
      // lossy for binary/struct/array ids and would land windows under
      // corrupted or null doc_ids
      val outSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_did", origIdType),
        org.apache.spark.sql.types.StructField("_c",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("_kmax",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("_slice",
          org.apache.spark.sql.types.StringType)))
      val rows = src
        .select(col(id).as("_did"), col(text).as("_t"))
        .flatMap { row =>
          val d = row.get(0)
          val t = row.getString(1)
          val total = t.codePointCount(0, t.length)
          if (total < winLen) Iterator.empty
          else {
            val numPos = (total - winLen) / stride + 1
            val nChunks = (numPos + chunk - 1) / chunk
            var u16 = 0 // UTF-16 index of chunk c's first window start
            (0 until nChunks).iterator.map { c =>
              val k = math.min(chunk, numPos - c * chunk)
              val covered = (k - 1) * stride + winLen
              val end16 = t.offsetByCodePoints(u16, covered)
              val out = org.apache.spark.sql.Row(d, c, k - 1,
                t.substring(u16, end16))
              if (c + 1 < nChunks) u16 = t.offsetByCodePoints(u16, chunk * stride)
              out
            }
          }
        }(org.apache.spark.sql.Encoders.row(outSchema))
      rows.repartition(col("_did"), col("_c"))
        .select(col("_did").as("doc_id"), explode(expr(
          s"transform(sequence(0, _kmax), " +
            s"j -> struct(CAST(1 + (_c * $chunk + j) * $stride AS INT) AS i, " +
            s"substring(_slice, 1 + j * $stride, $winLen) AS seg))")).as("w"))
    }
    val windows =
      if (dense) sliced(docs.where(length(col(text)) >= winLen))
      else {
        val spreadPred = length(col(text)) >= spreadChars
        docs.where(length(col(text)) >= winLen && !spreadPred)
          .select(col(id).as("doc_id"), explode(expr(
            s"transform(sequence(1, length($tq)-${winLen - 1}, $stride), " +
              s"i -> struct(i AS i, substring($tq, i, $winLen) AS seg))")).as("w"))
          .unionByName(sliced(docs.where(spreadPred)))
      }
    windows
      .select(col("doc_id"), col("w.i").as("i"), col("w.seg").as("seg"))
      // narrower types: the window hash is ONLY ever a
      // grouping key (shared-flag window partition, cut-set groupBy), and
      // at stride 1 it rides the operator's dominant exchange on every
      // window row — the engine's standard 60-bit md5-prefix long is 8
      // bytes there where the hex string was 32 (+ offsets), and skips
      // the per-window hex render. The DuckDB oracles replay the same
      // `('0x' || substr(md5(seg), 1, 15))::BIGINT` contract every other
      // md5-keyed operator already uses, so the grouping — and the
      // trimmed output — is engine-identical.
      .withColumn("h", graft.functions.HashExpressions.md5PrefixLong(col("seg"), 15))
  }

  /** Sparse-stride docs at or above this many chars take
    * [[charWindows]]'s sliced+spread path instead of the in-task
    * transform: the in-task per-window `substring` walk is quadratic in
    * document length (~len²/(2·stride) steps), which stays sub-second
    * below ~256 KB and cliffs after it. Dense strides always slice.
    */
  val DefaultSpreadChars: Int = 1 << 18

  /** Per-window "hash appears in ≥2 DISTINCT docs" flag — the shared
    * cut/flag rule, as ONE pass over the window rows: a window aggregate
    * over the hash (`min(doc) ≠ max(doc)` ⟺ ≥2 distinct docs, exactly
    * `countDistinct(doc_id) > 1` for non-null ids).
    *
    * Plan shape: a groupBy(h)
    * aggregate joined back to the window rows — which planned the whole
    * window-extraction subtree TWICE (charWindows' flatMap/explode/md5
    * has no reusable exchange between the two consumers) and paid two
    * full window-row exchanges plus a join. The window form extracts
    * windows once and pays one exchange + one partition sort on `h`;
    * partition sizes equal duplicate multiplicity, never a global sort.
    */
  private def withSharedFlag(wins: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("h")
    wins.withColumn("_shared",
      min(col("doc_id")).over(w) =!= max(col("doc_id")).over(w))
  }

  def duplicateWindows(docs: DataFrame, winLen: Int = 40, stride: Int = 20,
                       text: String = "text", id: String = "doc_id",
                       spreadChars: Int = DefaultSpreadChars): DataFrame = {
    val wins = charWindows(docs, winLen, stride, text, id, spreadChars)
      .select(col("doc_id"), col("h"))
    withSharedFlag(wins)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("total_windows"),
        count(when(col("_shared"), 1)).as("dup_windows"))
      .select(col("doc_id"), col("total_windows"), col("dup_windows"),
        round(col("dup_windows").cast("double") / col("total_windows"), 6)
          .as("dup_frac"))
  }

  /** Substring TRIM — the removal step [[duplicateWindows]] only flags
    * (Lee et al. 2022 ExactSubstr, reference has no counterpart):
    * DISJOINT `winLen`-char windows (stride = winLen, so the surgery is
    * unambiguous) whose hash appears in ≥2 docs are CUT, and each doc
    * is reassembled from its kept segments plus the sub-window tail.
    *
    * Scale: windows ride the scan; one 8-byte-hash groupBy finds
    * shared windows; reassembly aggregates each doc's OWN segments
    * under an array_sort total order — never doc pairs, never a
    * corpus-wide sort. A 100%-duplicated corpus changes the counts,
    * not the shape (the cut decision is a hash aggregate, not a join).
    */
  def substringTrim(docs: DataFrame, winLen: Int = 40,
                    text: String = "text", id: String = "doc_id",
                    spreadChars: Int = DefaultSpreadChars): DataFrame = {
    val wins = charWindows(docs, winLen, stride = winLen, text, id, spreadChars)
    val body = withSharedFlag(wins).where(!col("_shared"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("kept_windows"),
        array_join(transform(array_sort(collect_list(
          struct(col("i"), col("seg")))), x => x.getField("seg")), "")
          .as("body"))
    assembleTrimmed(docs, body, winLen, text, id)
  }

  /** Alignment-robust substring TRIM — full-recall detection
    * (Lee et al. 2022 ExactSubstr): [[substringTrim]]'s stride-aligned
    * windows can only see a copied span when both copies start at the
    * same offset mod stride — a copy shifted by any other amount
    * produces ZERO matching hashes (recall 1/stride for random shifts;
    * DedupSpec measures exactly this with planted offset-shifted
    * duplicates). Here detection runs at stride 1 — a window hash at
    * EVERY character position — so any shared `winLen`-char span
    * matches at some position regardless of alignment. Flagged
    * positions then map onto the same disjoint cut segments the trim
    * surgery already uses (a shared span straddling a segment boundary
    * cuts both segments it touches).
    *
    * Scale: still never a doc pair — detection is the same 8-byte-hash
    * groupBy, just over ~length(text) windows per doc instead of
    * length/stride, i.e. a winLen× increase in bytes hashed (md5 input
    * is winLen chars per position) and a stride× increase in shuffled
    * hashes. That linear constant is the honest price of full recall;
    * the sub-linear alternative (winnowed fingerprints, q_winnow_fp)
    * buys back the shuffle volume but detects only spans of length
    * ≥ winLen + w - 1 and does not localize the cut. The tail beyond
    * the last full segment is kept verbatim, as in [[substringTrim]].
    */
  def substringTrimExact(docs: DataFrame, winLen: Int = 40,
                         text: String = "text", id: String = "doc_id",
                         spreadChars: Int = DefaultSpreadChars): DataFrame = {
    val wins1 = charWindows(docs, winLen, stride = 1, text, id, spreadChars)
      .select(col("doc_id"), col("i"), col("h"))
    // flagged stride-1 positions → the disjoint segment indexes their
    // [i, i+winLen) span overlaps (0-based; DIV on 1-based positions)
    val cut = withSharedFlag(wins1).where(col("_shared"))
      .select(col("doc_id"), explode(expr(
        s"sequence((i - 1) DIV $winLen, (i + ${winLen - 2}) DIV $winLen)"))
        .as("_s"))
      .distinct()
      .withColumn("_cut", lit(1))
    val winsD = charWindows(docs, winLen, stride = winLen, text, id, spreadChars)
      .withColumn("_s", expr(s"(i - 1) DIV $winLen"))
    val body = winsD.join(cut, Seq("doc_id", "_s"), "left")
      .where(col("_cut").isNull)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("kept_windows"),
        array_join(transform(array_sort(collect_list(
          struct(col("i"), col("seg")))), x => x.getField("seg")), "")
          .as("body"))
    assembleTrimmed(docs, body, winLen, text, id)
  }

  /** Shared reassembly of [[substringTrim]]/[[substringTrimExact]]:
    * kept segments + the verbatim sub-window tail, with window/drop
    * counts. `body` is (doc_id, kept_windows, body).
    */
  private def assembleTrimmed(docs: DataFrame, body: DataFrame, winLen: Int,
                              text: String, id: String): DataFrame = {
    val tq = s"`$text`"
    val nWin = when(length(col(text)) >= winLen,
      expr(s"CAST(length($tq) DIV $winLen AS BIGINT)")).otherwise(0L)
    docs.select(col(id).as("doc_id"), col(text))
      .join(body, Seq("doc_id"), "left")
      .select(col("doc_id"),
        nWin.as("n_windows"),
        (nWin - coalesce(col("kept_windows"), lit(0L))).as("dropped_windows"),
        when(length(col(text)) >= winLen,
          concat(coalesce(col("body"), lit("")),
            expr(s"substring($tq, CAST(length($tq) DIV $winLen AS INT) * $winLen + 1)")))
          .otherwise(col(text)).as("trimmed"))
      .withColumn("trimmed_len", length(col("trimmed")).cast("long"))
  }
}
