package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scan-time record filters — the reference's `SequenceFileInputFilter`
  * family (`/root/reference/src/mapred/org/apache/hadoop/mapred/SequenceFileInputFilter.java:41,103,146,195`):
  * RegexFilter (key matches regex), PercentFilter (every f-th record),
  * MD5Filter (hash(key) % f == 0).
  *
  * Spark-first: these are plain `filter` Columns — Catalyst pushes
  * compatible predicates into the parquet scan, and the md5 variant is a
  * *deterministic, engine-independent* sample (unlike row-position
  * sampling, which is partition-order-dependent and meaningless under a
  * distributed scan — the reference's PercentFilter contract only ever made
  * sense for a single sequential reader, so we document the md5 filter as
  * its scale-correct replacement).
  */
object Sampling {

  /** Keep records whose key matches the regex. */
  def regexFilter(key: Column, pattern: String): Column =
    key.rlike(pattern)

  /** First 8 md5 hex digits of `key` as a uniform integer in [0, 2^32) —
    * THE repo-wide engine-portable hash primitive. Every sampler, mixer,
    * and split gate derives from this one definition (directly or via
    * [[hash01]]/[[hash01Centered]]/[[md5Filter]]) so the cross-engine
    * contract (`('0x' || substr(md5(k),1,8))::BIGINT` in DuckDB) lives in
    * exactly one place.
    */
  def hashBits32(key: Column): Column =
    // digest nibbles read directly — value-identical to
    // conv(substring(md5(k),1,8),16,10)::long, see HashExprSpec
    graft.functions.HashExpressions.md5PrefixLong(key.cast("string"), 8)

  /** Driver-side replay of [[hashBits32]] for plain JVM strings — lets
    * specs and driver-side audits recompute the exact sample membership
    * an engine run produced (same contract: first 8 md5 hex digits).
    */
  def hashBits32Of(key: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(key.getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex, 16)
  }

  /** [[hashBits32]] scaled to [0,1) — the repo's uniform [0,1) hash. */
  def hash01(key: Column): Column =
    hashBits32(key).cast("double") / lit(4294967296.0)

  /** [[hashBits32]] shifted off zero and scaled — uniform on
    * (0,1), midpoints of the 2^32 lattice cells. The form priority-key
    * samplers need: `ln(u)` must never see u = 0.
    */
  def hash01Centered(key: Column): Column =
    (hashBits32(key).cast("double") + lit(0.5)) / lit(4294967296.0)

  /** Deterministic 1-in-f sample on the stable key hash (MD5Filter
    * analog). Md5-derived so any engine (Spark, DuckDB, Python)
    * reproduces the same sample — important for cross-system oracles.
    */
  def md5Filter(key: Column, f: Int): Column =
    hashBits32(key) % f === 0

  /** Hex-prefix variant: keep keys whose md5 starts with `prefix` —
    * a 16^-len(prefix) sample, trivially expressible in any SQL dialect.
    */
  def md5PrefixFilter(key: Column, prefix: String): Column =
    substring(md5(key.cast("string")), 1, prefix.length) === prefix

  /** Stratified sample: per-stratum keep rates over a stable key hash —
    * the training-data "downsample the overrepresented class" operator
    * (and the scale-correct analog of the reference InputSampler's
    * per-split sampling,
    * `/root/reference/src/mapred/org/apache/hadoop/mapred/lib/InputSampler.java:118`:
    * its samplers draw from `java.util.Random` per split, so the sample
    * depends on the split layout — this hash sample is reproducible on
    * any engine and any partitioning).
    *
    * Keep iff `hash01(key) < rate(stratum)`, where hash01 is the first 8
    * md5 hex digits scaled to [0,1). A stratum absent from `rates` keeps
    * everything (rate 1.0). Rates quantize at 2^-32 — exact for any rate
    * expressible in 32 bits, and replayable in SQL as
    * `CAST(CONV(SUBSTR(md5(k),1,8),16,10) AS DOUBLE) / 4294967296 < r`.
    *
    * Scale: a pure codegen'd filter Column — no shuffle, no per-split
    * state; at 100 TB the sample decision rides the scan.
    */
  def stratifiedSample(key: Column, stratum: Column,
                       rates: Map[String, Double]): Column = {
    val h01 = hash01(key)
    rates.toSeq.sortBy(_._1).foldLeft(lit(1.0)) { case (acc, (s, r)) =>
      when(stratum === s, lit(r)).otherwise(acc)
    } > h01
  }

  /** Deterministic weighted repetition — the corpus-MIXING primitive
    * (per-source epoch weights / temperature sampling in pretraining
    * data recipes): each row emits `floor(w)` copies plus one more iff
    * `hash01(key) < frac(w)`, tagged `copy_id` (0-based) so downstream
    * shuffling can treat copies as distinct examples. One knob serves
    * both directions: w < 1 downsamples (the fractional gate alone),
    * w > 1 upsamples. The gate reuses [[stratifiedSample]]'s md5
    * [0,1) hash — reproducible on any engine and any partitioning, so
    * the exact output replays in SQL. Pure Column 1→N generator
    * (sequence + explode) — no shuffle, no per-split state; at 100 TB
    * the mix decision rides the scan, and expected output size is
    * exactly Σw. Non-positive weights yield no copies (floor(w) + gate
    * ≤ 0 → the row is dropped, same as w = 0).
    */
  /** Exactly-k-per-group deterministic subsample — the "balanced
    * subset" primitive (k docs per language/source/domain). Rows order
    * within their group by the md5 hash of the key (a reproducible
    * shuffle, engine- and partitioning-independent; ties break on the
    * key itself) and the first k survive. One window partitioned by
    * group — never a global sort, and Spark's WindowGroupLimit prunes
    * each partition to k candidates BEFORE the shuffle, so a group with
    * 10⁹ rows ships k per input partition, not 10⁹.
    */
  def takePerGroup(df: org.apache.spark.sql.DataFrame, group: Column,
                   key: Column, k: Int): org.apache.spark.sql.DataFrame = {
    val hash = graft.functions.HashExpressions.md5PrefixLong(key.cast("string"), 15)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(group).orderBy(hash, key.cast("string"))
    df.withColumn("_rn", row_number().over(w)).where(col("_rn") <= k).drop("_rn")
  }

  /** Corpus-relative band keep-filter: keep rows whose `valueCol` lies
    * in the exact [pLo, pHi] percentile band of the whole corpus —
    * "trim the signal tails" (the corpus-relative form of a fixed
    * threshold gate; recipes often cut the worst/best deciles of a
    * quality score rather than pick absolute cutoffs). The thresholds
    * are ONE exact-percentile aggregate riding a 1-row broadcast cross
    * join; the gate itself rides the scan. Exact (not approx)
    * percentile is deliberately affordable here: on a round-6 signal
    * the distinct-value space is ≤ ~2·10⁶ regardless of corpus rows,
    * so the aggregate's state is bounded — and the interpolated
    * thresholds are engine-reproducible, which approx sketches are not.
    */
  def percentileBand(df: org.apache.spark.sql.DataFrame, valueCol: String,
                     pLo: Double, pHi: Double): org.apache.spark.sql.DataFrame = {
    val th = df.agg(
      expr(s"percentile($valueCol, $pLo)").as("_lo"),
      expr(s"percentile($valueCol, $pHi)").as("_hi"))
    df.crossJoin(broadcast(th))
      .where(col(valueCol) >= col("_lo") && col(valueCol) <= col("_hi"))
      .drop("_lo", "_hi")
  }

  /** Deterministic dataset-split assignment (train/val/test): the key's
    * md5 [0,1) hash lands in one of the cumulative `fractions` ranges —
    * `Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)` maps hash <0.8 /
    * <0.9 / rest. Pure codegen'd Column: the decision rides the scan,
    * membership is a function of the key alone (STABLE under corpus
    * growth — a doc never migrates between splits when new data arrives,
    * which a row_number-based split cannot promise), and any engine
    * replays it. Fractions must be positive and sum to ~1 (the last
    * range absorbs rounding).
    */
  def splitAssign(key: Column, fractions: Seq[(String, Double)]): Column = {
    require(fractions.nonEmpty && fractions.forall(_._2 > 0)
      && math.abs(fractions.map(_._2).sum - 1.0) < 1e-9,
      s"fractions must be positive and sum to 1: $fractions")
    val h01 = hash01(key)
    val cum = fractions.scanLeft(0.0)(_ + _._2).tail
    fractions.init.zip(cum.init).foldRight(lit(fractions.last._1): Column) {
      case (((label, _), hi), acc) => when(h01 < hi, lit(label)).otherwise(acc)
    }
  }

  /** Token-budget prefix selection: keep the highest-`priority` rows
    * whose cumulative `weight` (in priority order) still fits `budget` —
    * "the best B tokens of the corpus", the selection step of every
    * quality-pruned training mix. Semantics are a PREFIX CUT: the
    * exclusive prefix counts every row in order, so the first row that
    * overflows ends the selection (no skip-and-fill — a smaller doc
    * behind the overflow is NOT pulled forward; cut order is the
    * contract, identical on any engine).
    *
    * Distributed shape: one [[GlobalRank.withGlobalCumSum]] two-level
    * exclusive prefix sum over the (priority desc, id) total order —
    * range-partitioned, never a single-partition window — then a pure
    * per-row fit test `start + w <= budget`. Feed a NARROW frame
    * (priority/weight/id + carried columns): the range exchange moves
    * the manifest, not the corpus.
    *
    * `(priority, id)` must be a unique total order (same contract as
    * every GlobalRank caller); the returned frame carries `_start` (the
    * exclusive prefix) for audit joins.
    */
  def budgetSelect(df: org.apache.spark.sql.DataFrame, priority: Column,
                   weight: Column, id: Column, budget: Long)
      : org.apache.spark.sql.DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val narrow = df.withColumn("_prio", priority)
      .withColumn("_w", weight.cast("long"))
    GlobalRank.withGlobalCumSum(narrow, Seq(col("_prio").desc, id), "_w",
        cumCol = "_start")
      .where(col("_start") + col("_w") <= budget)
  }

  /** Water-filling budget allocation across sources: split a total token
    * `budget` over per-source supplies in proportion to integer target
    * `weight`s, letting sources that run out of data saturate and
    * redistributing their unused share to the rest — the allocation
    * table a corpus mixer enforces when the target mix asks for more of
    * a source than exists (solves Σ min(supplyᵢ, λ·wᵢ) = B for the water
    * level λ).
    *
    * Input `df` is the per-source rollup (key, supply, weight) —
    * METADATA-sized (|sources| rows), which is why the unpartitioned
    * windows here are correct: this operator runs after the corpus has
    * already collapsed to one row per source.
    *
    * Closed form, no iteration: sort by saturation point supply/weight
    * ascending; a source saturates iff its point lies below the water
    * level implied by saturating everything before it —
    * `sᵢ·(W−cwᵢ) ≤ (B−csᵢ)·wᵢ` with EXCLUSIVE prefix sums cs/cw (the
    * flip is monotone along the sort). Unsaturated sources get
    * `⌊(B−Σs_sat)·wᵢ / (W−Σw_sat)⌋` — all-integer arithmetic, so any
    * engine replays the allocation exactly (the only double is the sort
    * key, computed identically by IEEE division on both sides).
    */
  def waterFill(df: org.apache.spark.sql.DataFrame, key: String,
                supply: String, weight: String, budget: Long)
      : org.apache.spark.sql.DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    import org.apache.spark.sql.expressions.Window
    val order = Seq(col(supply).cast("double") / col(weight), col(key))
    val pre = Window.orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val totals = df.agg(sum(col(weight)).as("_W"))
    val flagged = df
      .withColumn("_cs", coalesce(sum(col(supply)).over(pre), lit(0L)))
      .withColumn("_cw", coalesce(sum(col(weight)).over(pre), lit(0L)))
      .crossJoin(broadcast(totals))
      .withColumn("saturated",
        col(supply) * (col("_W") - col("_cw"))
          <= (lit(budget) - col("_cs")) * col(weight))
    val satTotals = flagged.agg(
      sum(when(col("saturated"), col(supply)).otherwise(lit(0L))).as("_ss"),
      sum(when(col("saturated"), col(weight)).otherwise(lit(0L))).as("_sw"))
    flagged.crossJoin(broadcast(satTotals))
      .withColumn("allocated",
        when(col("saturated"), col(supply))
          .otherwise(greatest(lit(0L),
            expr(s"(($budget - _ss) * $weight) div (_W - _sw)"))))
      .select(col(key), col(supply), col(weight),
        col("saturated"), col("allocated"))
  }

  /** Curriculum ordering audit — difficulty-first serving that anneals
    * into the epoch shuffle: epoch e of E serves documents by the
    * blended key `(E−1−e)·rank_difficulty + e·rank_hash`, so epoch 0 is
    * pure easy→hard, the last epoch is the pure deterministic shuffle,
    * and intermediate epochs interpolate (integer blend of two integer
    * ranks — no float schedule to drift across engines).
    *
    * Returns the per-epoch audit the training team reads: Spearman rank
    * correlation between serve order and difficulty order,
    * `ρ = 1 − 6·Σd²/(n(n²−1))` — exactly 1 at epoch 0, ≈0 once the
    * shuffle dominates. Σd² accumulates in Decimal(38,0) (d can be ~n,
    * so d² overflows a BIGINT at corpus scale); the one double is the
    * final ratio.
    *
    * Scale shape: each ordering is a [[GlobalRank]] pass — range
    * partitioned, never a single-partition window. E epochs cost E+2
    * ranked passes, which is the honest price of materializing E full
    * corpus orderings (a serving manifest IS a global permutation).
    */
  def curriculumAudit(df: org.apache.spark.sql.DataFrame, difficulty: Column,
                      id: Column, epochs: Int)
      : org.apache.spark.sql.DataFrame = {
    require(epochs >= 2, s"epochs must be >= 2, got $epochs")
    val base = df.select(id.as("_id"), difficulty.as("_diff"))
    val rd = GlobalRank.withGlobalRank(base,
      Seq(col("_diff"), col("_id")), "rank_d")
    val rh = GlobalRank.withGlobalRank(
      rd.withColumn("_h", hashBits32(col("_id"))),
      Seq(col("_h"), col("_id")), "rank_h")
    val perEpoch = (0 until epochs).map { e =>
      val keyed = rh.withColumn("_key",
        col("rank_d") * lit((epochs - 1 - e).toLong)
          + col("rank_h") * lit(e.toLong))
      val served = GlobalRank.withGlobalRank(keyed,
        Seq(col("_key"), col("_id")), "serve")
      val d = (col("serve") - col("rank_d")).cast("decimal(38,0)")
      served.agg(count(lit(1)).as("_n"), sum(d * d).as("_sd2"))
        .select(lit(e.toLong).as("epoch"),
          col("_n").as("n_docs"),
          round(lit(1.0) - lit(6.0) * col("_sd2").cast("double")
            / (col("_n").cast("decimal(38,0)")
               * (col("_n").cast("decimal(38,0)") * col("_n") - lit(1)))
              .cast("double"), 6).as("spearman_vs_difficulty"))
    }
    perEpoch.reduce(_ unionByName _)
  }

  def weightedRepeat(df: org.apache.spark.sql.DataFrame, key: Column,
                     weight: Column): org.apache.spark.sql.DataFrame = {
    val h01 = hash01(key)
    val copies = floor(weight).cast("long") +
      when(h01 < weight - floor(weight), lit(1L)).otherwise(lit(0L))
    df.withColumn("_n", copies)
      .where(col("_n") > 0)
      .select(col("*"), explode(sequence(lit(0L), col("_n") - 1)).as("copy_id"))
      .drop("_n")
  }
}
