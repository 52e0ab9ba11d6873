package graft.ops

import org.apache.spark.sql.{Column, DataFrame}

/** Distributed global ranking — the reference's `TotalOrderPartitioner` +
  * per-reducer position counting
  * (`/root/reference/src/mapred/org/apache/hadoop/mapred/lib/TotalOrderPartitioner.java:41`,
  * sampler `lib/InputSampler.java:49`).
  *
  * `row_number() OVER (ORDER BY ...)` forces a SinglePartition exchange —
  * one task ranks everything, which cannot scale. This operator keeps the
  * computation distributed: range-repartition on the sort key, sort
  * within partitions, and tag each row with its partition and local
  * position. The job that materializes the sorted checkpoint also returns
  * each partition's row count, so the offsets that make the ranks
  * contiguous cost no job of their own, as each reference reducer counted
  * its own positions. A ranked write runs four jobs: the sampling pass
  * (or Spark's range sampler), the exchange's map side, the sort and the
  * write (GlobalRankSpec).
  *
  * When every sort key is integral, boolean, date or timestamp, the order
  * rides one packed `LONG` ([[PackedKey]]), as the reference's reducers
  * compared raw key bytes:
  *  - its own sampling pass (one job, in place of Spark's range sampler)
  *    reads each key's exact min, max and null count and a reservoir
  *    sample of the keys;
  *  - each key gets a bit field of its exact range (plus a null slot when
  *    it holds nulls), most significant first; if the fields fit in 63
  *    bits the packed value is non-negative and its order is the tuple
  *    order;
  *  - the split points are weighted quantiles of the packed sample, and
  *    `repartitionById` routes each row by a binary search over them
  *    ([[graft.functions.RangeBucket]]) — the partition file lookup;
  *  - the sort is Spark's radix sort, which runs only on a single key its
  *    8-byte prefix holds whole;
  *  - key columns of `df` travel as the packed key alone through the
  *    shuffle and the checkpoint, and decode exactly after it.
  * The ranked frame's schema, rows, ranks and file order are those of the
  * range-exchange path. Any other key type, a nondeterministic input, or
  * an input that itself shuffles takes the range exchange without the
  * pass; keys that measure wider than 63 bits take it after the pass,
  * which costs that one job.
  *
  * The sort key must be a unique total order for ranks to be
  * deterministic (add an id tie-break, as the reference's total sorts
  * required byte-unique keys).
  */
object GlobalRank {

  /** [[withGlobalRankTracked]] without the release handle — for one-shot
    * callers that rely on session-level hygiene (Bench unpersists stray
    * RDDs per query). Long-lived sessions should use the tracked form and
    * release once the ranked frame has materialized, or the checkpoint
    * pins a copy of the table in executor storage indefinitely.
    */
  def withGlobalRank(df: DataFrame, sortCols: Seq[Column],
                     rankCol: String = "rank",
                     maxWhenChain: Int = MaxWhenChainPartitions): DataFrame =
    withGlobalRankTracked(df, sortCols, rankCol, maxWhenChain).df

  /** Ranked frame plus `release()` for the internal checkpoint — call it
    * once the ranked frame has materialized downstream (the checkpoint's
    * blocks ARE the frame's data source; releasing earlier makes the
    * frame unrecomputable). Symmetric with Dedup's generation hygiene.
    */
  def withGlobalRankTracked(df: DataFrame, sortCols: Seq[Column],
                            rankCol: String = "rank",
                            maxWhenChain: Int = MaxWhenChainPartitions): Checkpoints.Truncated = {
    import org.apache.spark.sql.functions._
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val packing = PackedKey.keys(df, sortCols).flatMap(PackedKey.measure(df, _, n))
    val tracked = Checkpoints.truncateTracked( // ids must be stable across the two uses
      packing.fold(df.repartitionByRange(n, sortCols: _*).sortWithinPartitions(sortCols: _*))(
        _.sortedByRange(df, n))
        // monotonically_increasing_id encodes (partition << 33) + local row
        // index in iteration (= sorted) order — local position without
        // leaving codegen (an rdd.zipWithIndex would deserialize every row)
        .withColumn("_mid", monotonically_increasing_id()),
      eager = false)
    val sorted = packing.fold(tracked.df)(_.decoded(df, tracked.df))
    // per-partition row counts → cumulative start offsets (tiny driver data,
    // the TotalOrderPartitioner "partition file" analog)
    val counts = partitionTotals(sorted, lit(0L)).map { case (pid, rows, _) => pid -> rows }
    val offsets = counts.scanLeft(0L) { case (acc, (_, c)) => acc + c }
    val tagged = sorted.withColumn("_pid", shiftright(col("_mid"), 33).cast("int"))
    val localRank = col("_mid") - shiftleft(col("_pid").cast("long"), 33) + 1
    val ranked =
      if (counts.length <= maxWhenChain) {
        // small partition counts: a when-chain literal keeps the whole rank
        // expression inside codegen (no join at all)
        val offsetCol = counts.map(_._1).zip(offsets).foldLeft(lit(0L)) { case (acc, (pid, off)) =>
          when(col("_pid") === pid, lit(off)).otherwise(acc)
        }
        tagged.withColumn(rankCol, offsetCol + localRank)
      } else {
        // large partition counts: a when-chain would blow up codegen
        // (O(partitions) nested CASE); broadcast-join the tiny offsets
        // table instead. Correctness does not depend on the join strategy
        // or row order: ranks are pure functions of the materialized
        // _mid column, so any physical plan yields the same ranks
        val spark = df.sparkSession
        import spark.implicits._
        val offsetsDf = broadcast(
          counts.map(_._1).zip(offsets).toSeq.toDF("_pid", "_offset"))
        tagged.join(offsetsDf, "_pid")
          .withColumn(rankCol, col("_offset") + localRank)
          .drop("_offset")
      }
    Checkpoints.Truncated(ranked.drop("_mid", "_pid"), tracked.release)
  }

  /** Above this many partitions the rank offsets ride a broadcast join
    * instead of a codegen'd when-chain.
    */
  val MaxWhenChainPartitions: Int = 256

  /** (partition index, rows, sum of `weight` as a long with nulls as 0) for
    * each non-empty partition of `sorted`. Run on the checkpointed frame,
    * this job is the one that materializes a lazy checkpoint, so the
    * totals cost no job of their own. Partition indexes are those the
    * rows were tagged with before the checkpoint: the scan is narrow.
    */
  private def partitionTotals(sorted: DataFrame, weight: Column): Array[(Int, Long, Long)] =
    sorted.select(weight.cast("long")).queryExecution.toRdd
      .mapPartitionsWithIndex { (i, rows) =>
        var n, s = 0L
        rows.foreach { r => n += 1; if (!r.isNullAt(0)) s += r.getLong(0) }
        Iterator((i, n, s))
      }
      .collect().filter(_._2 > 0)

  /** [[withGlobalCumSumTracked]] without the release handle — same
    * session-hygiene caveat as [[withGlobalRank]].
    */
  def withGlobalCumSum(df: DataFrame, sortCols: Seq[Column], weightCol: String,
                       cumCol: String = "cum_start",
                       maxWhenChain: Int = MaxWhenChainPartitions): DataFrame =
    withGlobalCumSumTracked(df, sortCols, weightCol, cumCol, maxWhenChain).df

  /** Distributed EXCLUSIVE prefix sum of `weightCol` over the global
    * `sortCols` order: each row gets the total weight of all rows
    * strictly before it. The classic two-level scan — range-repartition
    * on the sort key, per-partition totals to the driver (tiny), driver
    * prefix-sums them into partition start offsets, and a within-partition
    * running sum rides a window PARTITIONED BY the materialized partition
    * id (never a global single-partition window). Feed it a NARROW
    * projection (key + weight): the window's hash exchange then moves the
    * skinny manifest, not the corpus.
    *
    * Same contracts as [[withGlobalRank]]: `sortCols` must be a unique
    * total order (the running sum uses a ROWS frame — ties would make it
    * nondeterministic), and the internal checkpoint pins the sorted frame
    * until `release()`. It keeps the range exchange: its callers sort on
    * md5 strings (TokenBlocks) and a double priority (Sampling), which do
    * not pack.
    */
  def withGlobalCumSumTracked(df: DataFrame, sortCols: Seq[Column], weightCol: String,
                              cumCol: String = "cum_start",
                              maxWhenChain: Int = MaxWhenChainPartitions): Checkpoints.Truncated = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val tracked = Checkpoints.truncateTracked( // pids must be stable across the two uses
      df.repartitionByRange(n, sortCols: _*)
        .sortWithinPartitions(sortCols: _*)
        .withColumn("_pid", spark_partition_id()),
      eager = false)
    val sorted = tracked.df
    val w = col(weightCol).cast("long")
    // empty partitions are left out: they contribute no weight and no
    // rows, so skipping them keeps the offsets aligned; a null weight
    // counts 0, as the running sum below treats it
    val sums = partitionTotals(sorted, w).map { case (pid, _, s) => pid -> s }
    val offsets = sums.scanLeft(0L) { case (acc, (_, s)) => acc + s }
    val win = Window.partitionBy("_pid").orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = coalesce(sum(w).over(win), lit(0L))
    val pairs = sums.map(_._1).zip(offsets)
    val result =
      if (sums.length <= maxWhenChain) {
        val offsetCol = pairs.foldLeft(lit(0L)) { case (acc, (pid, off)) =>
          when(col("_pid") === pid, lit(off)).otherwise(acc)
        }
        sorted.withColumn(cumCol, offsetCol + local)
      } else {
        val spark = df.sparkSession
        import spark.implicits._
        val offsetsDf = broadcast(pairs.toSeq.toDF("_pid", "_offset"))
        sorted.join(offsetsDf, "_pid")
          .withColumn(cumCol, col("_offset") + local)
          .drop("_offset")
      }
    Checkpoints.Truncated(result.drop("_pid"), tracked.release)
  }

  /** Exact linearly-interpolated quantiles (the percentile_cont /
    * NumPy-default definition: value at fractional position p·(n−1) of
    * the sorted-ascending list) per group — the length-distribution
    * audit a packing/chunking stage reads before fixing block sizes.
    *
    * The sort runs through [[withGlobalRank]] on (group, value, id), so
    * no group ever collapses into one task the way a
    * `row_number() OVER (PARTITION BY group)` window would when one
    * group is most of the corpus; per-group positions are the global
    * rank minus the group's broadcast rank base. The (group, p) target
    * table is groups×|ps| rows — tiny — and each quantile touches
    * exactly the two bracketing ranked rows via an equi-join.
    *
    * Determinism: values at a sorted position are unique regardless of
    * how ties ordered (equal values), `pos = p·(n−1)` and the
    * interpolation `v_lo + (pos−floor(pos))·(v_hi−v_lo)` are written
    * with identical association in the DuckDB oracles, and the result
    * rounds at 6.
    */
  def interpolatedQuantiles(df: DataFrame, ps: Seq[Double],
                            group: String, value: String, id: String)
      : DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    import spark.implicits._
    val ranked = withGlobalRank(
      df.select(col(group), col(value).cast("double").as("_v"), col(id)),
      Seq(col(group), col("_v"), col(id)), "_grank")
    val base = ranked.groupBy(col(group))
      .agg(min(col("_grank")).as("_base"), count(lit(1)).as("_n"))
    val idxd = ranked.join(broadcast(base), group)
      .select(col(group), col("_v"), (col("_grank") - col("_base") + 1).as("_idx"))
    val tgt = base.crossJoin(broadcast(ps.toDF("p")))
      .select(col(group), col("p"),
        (col("p") * (col("_n") - lit(1)).cast("double")).as("pos"))
      .select(col(group), col("p"), col("pos"),
        (floor(col("pos")).cast("long") + 1).as("_lo"),
        (ceil(col("pos")).cast("long") + 1).as("_hi"))
    tgt
      .join(idxd.select(col(group), col("_idx").as("_lo"), col("_v").as("_vlo")),
        Seq(group, "_lo"))
      .join(idxd.select(col(group), col("_idx").as("_hi"), col("_v").as("_vhi")),
        Seq(group, "_hi"))
      .select(col(group), col("p"),
        round(col("_vlo") + (col("pos") - floor(col("pos")))
          * (col("_vhi") - col("_vlo")), 6).as("quantile"))
  }

  /** Robust per-group statistics — median, MAD (median absolute
    * deviation), and the 5/95-winsorized mean — the outlier-resistant
    * location/scale profile a gating stage trusts when raw moments are
    * skew-dominated. Two [[interpolatedQuantiles]] passes (values, then
    * absolute deviations from the group median) plus one clip
    * aggregate; every pass stays range-partitioned, so a dominant group
    * never serializes. Determinism: quantiles are round-6 by contract;
    * deviations |x − median| are exact (integer minus 6-decimal);
    * winsorized values quantize to 1e-6 integers before the sum, so the
    * mean is partition-order-proof.
    */
  def robustStats(df: DataFrame, group: String, value: String, id: String)
      : DataFrame = {
    import org.apache.spark.sql.functions._
    val qs = interpolatedQuantiles(df, Seq(0.05, 0.5, 0.95), group, value, id)
    val wide = qs.groupBy(col(group)).agg(
      max(when(col("p") === 0.05, col("quantile"))).as("_p05"),
      max(when(col("p") === 0.5, col("quantile"))).as("_med"),
      max(when(col("p") === 0.95, col("quantile"))).as("_p95"))
    val joined = df.select(col(group), col(value).cast("double").as("_v"),
        col(id))
      .join(broadcast(wide), group)
    val dev = joined.select(col(group),
      abs(col("_v") - col("_med")).as("_d"), col(id))
    val mad = interpolatedQuantiles(dev, Seq(0.5), group, "_d", id)
      .select(col(group), col("quantile").as("mad"))
    val win = joined
      .withColumn("_w", round(greatest(least(col("_v"), col("_p95")),
        col("_p05")) * lit(1e6), 0).cast("long"))
      .groupBy(col(group)).agg(count(lit(1)).as("n"),
        max(col("_med")).as("median"),
        round((sum(col("_w")).cast("double") / lit(1e6))
          / count(lit(1)).cast("double"), 6).as("winsorized_mean"))
    win.join(mad, group)
      .select(col(group), col("n"), col("median"), col("mad"),
        col("winsorized_mean"))
  }
}
