package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** K-minimum-values (KMV) distinct-count sketch — the mergeable,
  * deterministic cousin of HyperLogLog (Bar-Yossef et al. 2002; the
  * "bottom-k" estimator of Beyer et al., SIGMOD 2007).
  *
  * The reference's `UniqValueCount`
  * (`/root/reference/src/mapred/org/apache/hadoop/mapred/lib/aggregate/UniqValueCount.java:30-70`)
  * caps an exact distinct set; `approx_count_distinct` (HLL) estimates an
  * unbounded one but is not reproducible across engines. KMV sits between:
  * O(k) state, a mergeable sketch (union = union-then-trim, exactly the
  * TreeMap-retention property the reference's combiner relied on), and —
  * because the "randomness" is an md5 hash of the value — a DETERMINISTIC
  * estimate any engine replays bit-for-bit. That last property is why this
  * exists alongside HLL: a cross-system pipeline (Spark writer, non-Spark
  * auditor) can assert on the estimate.
  *
  * Estimator: hash every value to [0,1), keep the k smallest DISTINCT
  * hashes; if fewer than k distinct values exist the sketch IS the exact
  * distinct set, else `(k-1) / h_k` where `h_k` is the k-th smallest hash.
  * Standard error ~ 1/sqrt(k-2).
  *
  * Scale shape (100 TB): one map-side-partial distinct on the 8-byte hash
  * (not the value — a wide string key ships 8 bytes, not its bytes), then
  * a per-partition top-k merge (`TakeOrderedAndProject`) — k rows reach
  * the driver regardless of input size. No global sort.
  */
object Sketches {

  /** Value → [0,1) hash: first 15 md5 hex digits over 16^15. 60 bits of
    * the hash — collision probability over any realistic distinct count
    * is negligible, and 15 hex digits stay exactly representable in both
    * a BIGINT and a DOUBLE (16^15 = 2^60 < 2^63; the quotient's 53-bit
    * rounding is identical IEEE-754 in every engine, so cross-engine
    * replays agree bit-for-bit).
    */
  def hash01(key: Column): Column =
    // md5PrefixLong(k,15)::double parses to the SAME correctly-
    // rounded IEEE double as the decimal-string cast it replaces
    graft.functions.HashExpressions.md5PrefixLong(key.cast("string"), 15)
      .cast("double") / lit(1152921504606846976.0) // 16^15

  /** The sketch itself: the k smallest distinct hashes, one `h` column.
    * Union-mergeable: `kmvSketch(a union b) == trim(kmvSketch(a) union
    * kmvSketch(b))` — the k smallest of a union are among the two sides'
    * k smallest (see SketchesSpec).
    */
  def kmvSketch(df: DataFrame, key: Column, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    df.select(hash01(key).as("h")).distinct().orderBy(col("h")).limit(k)
  }

  /** One-row estimate: `(est_distinct, k)`. `est_distinct` rounds at 6
    * decimals for cross-engine hash-compare stability (the arithmetic is
    * identical either way; rounding just fixes the printed form).
    */
  def kmvDistinct(df: DataFrame, key: Column, k: Int): DataFrame =
    kmvSketch(df, key, k)
      .agg(count(lit(1)).as("_n"), max(col("h")).as("_hk"))
      .select(
        round(when(col("_n") < k, col("_n").cast("double"))
          .otherwise(lit((k - 1).toDouble) / col("_hk")), 6).as("est_distinct"),
        lit(k.toLong).as("k"))

  /** Per-group KMV estimates — the "sketch column in a rollup" pattern
    * (one bounded distinct-count per group, mergeable across loads).
    * Output: `(grp, est_distinct, k)`.
    *
    * Scale shape: one map-side-partial distinct on (group, hash), then a
    * per-group bottom-k via a rank window — the window sorts each
    * group's hashes with a SPILLABLE external sort and streams the rank
    * filter (O(1) state per row, nothing materializes per group), so a
    * group with billions of distinct keys costs its sort, never its
    * memory. The closing per-group aggregate reuses the window's group
    * partitioning (hash(grp) satisfies the clustering) — two exchanges
    * total, k rows per group survive.
    */
  def kmvDistinctByGroup(df: DataFrame, group: Column, key: Column,
                         k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val h = df.select(group.as("grp"), hash01(key).as("h")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("h"))
    h.withColumn("_rn", row_number().over(w)).where(col("_rn") <= k)
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("_n"), max(col("h")).as("_hk"))
      .select(col("grp"),
        round(when(col("_n") < k, col("_n").cast("double"))
          .otherwise(lit((k - 1).toDouble) / col("_hk")), 6).as("est_distinct"),
        lit(k.toLong).as("k"))
  }

  /** KMV set-INTERSECTION estimate between two key sets (Beyer et al.,
    * SIGMOD 2007 §4): the k smallest hashes of A∪B are a uniform sample
    * of the union, so the fraction of them present in both sides
    * estimates the Jaccard similarity, and |A∩B| ≈ ρ · |A∪B|.
    * Everything derives from the two per-side bottom-k sketches — the
    * raw inputs are each read ONCE to build O(k) state; the union merge,
    * membership flags, and estimate are k-row metadata. That is the
    * 100 TB shape: pairwise overlap between N sets needs N sketch builds,
    * not N² set joins.
    *
    * Output, one row: `(su_size, matched, est_union, est_intersect, k)`;
    * `su_size < k` means the union sketch IS the exact distinct union
    * (and the estimate degrades to exact). Deterministic md5 hashing and
    * a fixed association order — round(matched · est_u / su_size, 6) with
    * est_u unrounded — keep the doubles engine-replayable.
    */
  def kmvIntersect(a: DataFrame, keyA: Column, b: DataFrame, keyB: Column,
                   k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val sa = kmvSketch(a, keyA, k)
    val sb = kmvSketch(b, keyB, k)
    val su = sa.unionByName(sb).distinct().orderBy(col("h")).limit(k)
    val marked = su
      .join(sa.withColumn("_ina", lit(1)), Seq("h"), "left")
      .join(sb.withColumn("_inb", lit(1)), Seq("h"), "left")
    val estU = when(col("su_size") < k, col("su_size").cast("double"))
      .otherwise(lit((k - 1).toDouble) / col("_hk"))
    marked
      .agg(count(lit(1)).as("su_size"),
        coalesce(sum(when(col("_ina") === 1 && col("_inb") === 1, 1L)
          .otherwise(0L)), lit(0L)).as("matched"),
        max(col("h")).as("_hk"))
      .select(col("su_size"), col("matched"),
        round(estU, 6).as("est_union"),
        when(col("su_size") === 0, lit(0.0)) // empty inputs: 0, not 0/0
          .otherwise(round(col("matched") * estU / col("su_size"), 6))
          .as("est_intersect"),
        lit(k.toLong).as("k"))
  }

  /** Bias-correction constant of the raw HyperLogLog estimator
    * (Flajolet et al. 2007, §4) for the supported register counts.
    */
  private val hllAlpha = Map(16 -> 0.673, 32 -> 0.697, 64 -> 0.709)

  /** Deterministic HyperLogLog distinct estimate per group — the O(m)-
    * state counterpart of [[kmvDistinctByGroup]], built on the same md5
    * hash family so (unlike `approx_count_distinct`'s engine-private
    * xxhash HLL) any engine replays the estimate bit-for-bit.
    *
    * Hash layout per key: 60 md5 bits → low log2(m) bits pick the
    * register, the remaining W = 60 - log2(m) bits feed the rank
    * rho = (position of the highest set bit from the top of the W-bit
    * field), computed with INTEGER/string ops only (`bin()` length —
    * never a floating log, whose last-ulp behavior differs across
    * libms). Register value M = max rho, M = 0 for an empty register.
    *
    * The harmonic denominator Σ 2^-M is carried as the EXACT integer
    * Σ 2^(W+1-M) (every term a power of two, integer addition
    * associative — Spark's partial aggregation order can never change
    * the sum), so the only floating-point steps are the final
    * alpha·m²·2^(W+1) / denom division and its round(…, 3) — one
    * IEEE-deterministic rounding from identical integer inputs on any
    * engine.
    *
    * Output: `(grp, hll_est, zero_registers, m)`. `zero_registers` is
    * exported because the raw estimator biases high below ~2.5·m
    * distincts, where linear counting (m·ln(m/V)) is the textbook
    * correction — ln is a libm call, so the correction is left to the
    * caller rather than silently breaking replayability.
    *
    * Scale shape (100 TB): one map-side-partial max-aggregation to
    * (group, register) — ≤ m rows per group survive the shuffle no
    * matter the input — then an m-row-per-group grid join and a second
    * tiny aggregate. State is O(m) per group, mergeable by max.
    */
  def hllDistinctByGroup(df: DataFrame, group: Column, key: Column,
                         m: Int = 64): DataFrame =
    hllEstimate(hllRegisters(df, group, key, m), m)

  /** Per-(group, register) max-rank table — the HLL sketch itself, in
    * relational form: ≤ m rows per group whatever the input size, built
    * by one map-side-partial max-aggregation. Mergeable by a further
    * `max` over any re-grouping of `grp` — the property
    * [[hllSlidingDistinct]] exploits.
    */
  def hllRegisters(df: DataFrame, group: Column, key: Column,
                   m: Int): DataFrame = {
    require(hllAlpha.contains(m),
      s"m must be one of ${hllAlpha.keys.toSeq.sorted}, got $m")
    val bits = Integer.numberOfTrailingZeros(m)
    val w = 60 - bits // rank-field width; rho in 1..w+1, 0 = empty
    val hv = graft.functions.HashExpressions.md5PrefixLong(key.cast("string"), 15)
    val rho = when(col("rest") === 0, lit(w + 1))
      .otherwise(lit(w + 1) - length(bin(col("rest"))))
    df.select(group.as("grp"), hv.as("hv"))
      .select(col("grp"), (col("hv") % m).as("register"),
        shiftright(col("hv"), bits).as("rest"))
      .select(col("grp"), col("register"), rho.as("rho"))
      .groupBy("grp", "register").agg(max(col("rho")).as("m_reg"))
  }

  /** Estimate from a `(grp, register, m_reg)` register table (missing
    * registers = empty). Same integer-denominator discipline as
    * [[hllDistinctByGroup]] — this IS its second half.
    */
  def hllEstimate(regs: DataFrame, m: Int): DataFrame = {
    val alpha = hllAlpha.getOrElse(m,
      throw new IllegalArgumentException(s"m must be one of ${hllAlpha.keys.toSeq.sorted}, got $m"))
    val bits = Integer.numberOfTrailingZeros(m)
    val w = 60 - bits
    // full m-register grid per group: empty registers contribute 2^(w+1)
    val grid = regs.select("grp").distinct()
      .select(col("grp"),
        explode(sequence(lit(0L), lit((m - 1).toLong))).as("register"))
    grid.join(regs, Seq("grp", "register"), "left")
      .select(col("grp"), coalesce(col("m_reg"), lit(0)).as("m_reg"))
      .groupBy("grp")
      .agg(
        sum(expr(s"shiftleft(cast(1 as bigint), ${w + 1} - m_reg)")).as("_denom"),
        count(when(col("m_reg") === 0, 1)).as("zero_registers"))
      .select(col("grp"),
        round(lit(alpha) * lit(m * m) * lit(1L << (w + 1)) / col("_denom"), 3)
          .as("hll_est"),
        col("zero_registers"), lit(m.toLong).as("m"))
  }

  /** Sliding-window distinct estimate via SKETCH MERGE — for each day
    * with data, the distinct-key estimate over the trailing
    * `windowDays`-day window, WITHOUT re-reading raw rows per window.
    *
    * The raw input collapses once to per-day registers (≤ m rows per
    * day); each day's registers then fan out to the ≤ `windowDays`
    * observed window-end days they cover and max-merge per
    * (window, register). Everything after the first aggregation is
    * day-grain metadata — at 100 TB the alternative (count-distinct per
    * overlapping window) re-shuffles every raw row `windowDays` times,
    * while this shuffles it once. This is the standard mergeable-sketch
    * argument (Flajolet et al. 2007 §6): HLL registers form a
    * max-semilattice, so any re-grouping merges losslessly.
    *
    * `day` must be an integer day number. Output:
    * `(day, hll_est, zero_registers, m)` — `day` is the window END;
    * only days present in the input appear.
    */
  def hllSlidingDistinct(df: DataFrame, day: Column, key: Column,
                         windowDays: Int, m: Int = 64): DataFrame = {
    require(windowDays >= 1, "windowDays must be >= 1")
    val dayRegs = hllRegisters(df, day, key, m)
      .withColumnRenamed("grp", "_day")
    val observed = dayRegs.select(col("_day").as("grp")).distinct()
    val merged = dayRegs
      .withColumn("grp", explode(sequence(col("_day"),
        col("_day") + lit((windowDays - 1).toLong))))
      .join(observed, Seq("grp"), "left_semi")
      .groupBy("grp", "register").agg(max(col("m_reg")).as("m_reg"))
    hllEstimate(merged, m).withColumnRenamed("grp", "day")
  }

  /** Hash-sample quantile sketch — mergeable bounded-state approximate
    * quantiles per group, the quantile member of the bottom-k sketch
    * family above (same deterministic-md5 discipline, so any engine
    * replays the estimate bit-for-bit).
    *
    * Semantics: per group keep the k rows whose md5(id) hashes smallest —
    * a uniform k-subsample that is a pure function of the group's id SET
    * (partitioning- and merge-order-proof: the bottom-k of a union is the
    * trimmed union of bottom-ks, exactly the KMV retention property) —
    * then take exact interpolated quantiles (percentile_cont definition,
    * via [[graft.ops.GlobalRank.interpolatedQuantiles]]) of the sample.
    * Rank error is the bottom-k sampling error: 1σ = sqrt(p(1−p)/k)
    * (≈3.1% of rank at p=0.5, k=256); SketchesSpec pins the 3σ band on
    * planted uniform AND Zipf-skewed distributions.
    *
    * Why not exact quantiles everywhere: the exact path
    * (q_length_quantiles) range-partitions ALL rows per group — correct
    * and spillable, but at 100 TB a per-group percentile dashboard
    * re-sorts the corpus. This sketch ships k·|groups| rows total after
    * the first window pass, and — because the sample is mergeable — daily
    * samples union-and-trim into weekly/monthly quantiles without
    * touching the raw data again.
    *
    * Scale shape: the `row_number() <= k` filter is Spark 4's
    * InferWindowGroupLimit pattern (same as q_domain_cap, measured 2×
    * over manual salting in d15) — a bounded per-group heap runs BEFORE
    * the exchange, so at most k rows per group per input partition cross
    * the shuffle; everything downstream operates on ≤ k·|groups| rows.
    */
  /** The sketch's retained state: the k rows per group whose md5(id)
    * hashes smallest. Public so plan audits can assert the
    * WindowGroupLimit bound on THIS stage (the quantile stage checkpoints
    * through GlobalRank, which truncates lineage and hides it).
    */
  def hashSample(df: DataFrame, group: String, value: String, id: String,
                 k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(group))
      .orderBy(graft.ops.Sampling.hashBits32(col(id)), col(id))
    df.select(col(group), col(value), col(id))
      .withColumn("_srn", row_number().over(w))
      .where(col("_srn") <= k)
      .drop("_srn")
  }

  def hashSampleQuantiles(df: DataFrame, ps: Seq[Double], group: String,
                          value: String, id: String, k: Int): DataFrame =
    graft.ops.GlobalRank.interpolatedQuantiles(
      hashSample(df, group, value, id, k), ps, group, value, id)
}
