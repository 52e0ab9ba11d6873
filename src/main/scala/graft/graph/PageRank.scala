package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Checkpoints

/** PageRank over an edge list — the canonical iterative MapReduce-era
  * job (the reference's link-analysis workloads chained map/reduce
  * rounds per iteration; SURVEY §2.9's JobControl chains existed for
  * exactly this shape), re-expressed as a checkpointed DataFrame loop.
  *
  * Semantics (classic damped PageRank with dangling redistribution):
  * `r'(v) = (1-d)/N + d * (Σ_{u→v} r(u)/outdeg(u) + dangling_mass/N)`
  * where dangling mass is the total rank of nodes with no out-edges.
  * Every per-node sum is rounded at 9 decimals PER ITERATION — the same
  * quantized-trajectory discipline as the k-means oracle: any engine
  * replaying the iterations (DuckDB unrolls them as CTE chains) gets
  * bit-identical ranks regardless of its summation order.
  *
  * Scale shape (billions of edges): the per-iteration work is one
  * shuffle join of the checkpointed weighted edge list with the rank
  * table on src, one partial-aggregated groupBy on dst, and a left join
  * back to nodes — all key-partitioned, nothing driver-side; N and the
  * dangling mass ride as 1-row broadcast scalars (never collected).
  * Each iteration's checkpoint releases the superseded generation, the
  * same hygiene as the label-propagation loop
  * ([[graft.dedup.Dedup.dedupClusters]]).
  */
object PageRank {

  /** Ranks after `iters` iterations: (`node`, `rank`), rank rounded at
    * 9 decimals. Final-generation checkpoint relies on session hygiene
    * (the [[graft.ops.GlobalRank.withGlobalRank]] caveat); long-lived
    * sessions should use [[pageRankTracked]].
    */
  def pageRank(edgesRaw: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 3, damping: Double = 0.85): DataFrame =
    pageRankTracked(edgesRaw, srcCol, dstCol, iters, damping).df

  /** [[pageRank]] plus a release() for the final iteration's checkpoint
    * and the edge list — call once the ranks have materialized.
    *
    * TWO tables are materialized up front and re-entered every
    * iteration: the weighted edge list and `nodesDeg` (every node with
    * its out-degree, null = dangling). The rank table CARRIES `deg`
    * between iterations so the dangling mass is a pure scan of the
    * checkpointed ranks — r9's profile showed the loop instead
    * recomputing `nodes`/`outdeg` from the RAW edges inside every
    * iteration (a full input scan + two distinct shuffles per pass,
    * hidden inside the lazily-materialized dangling broadcast), which
    * at 100 TB would turn a 3-iteration run into 3 extra passes over
    * the edge input.
    */
  def pageRankTracked(edgesRaw: DataFrame, srcCol: String, dstCol: String,
                      iters: Int = 3, damping: Double = 0.85): Checkpoints.Truncated = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // Setup slimming (the d8 cold-protocol phase attribution showed the
    // SETUP checkpoint is ~60% of the 10x wall — iterations are 1–3 s
    // each): an earlier shape attached the out-degree to every edge row
    // via a window over src — a SECOND full exchange
    // of the edge list plus a per-partition sort, and a 3-column
    // checkpoint — yet the iterations only ever read (src, dst) from
    // the edge side (r/deg lives on the rank side). Checkpoint the
    // DEDUPED 2-column edge list (one map-side-combined (src,dst)
    // exchange, no window, no sort, 2/3 the materialized bytes) and
    // derive the per-src degree from the checkpointed edges with a
    // node-count-sized aggregate. Measured at 10x: setup 8.5 → 7.9 s
    // warm (the phase is scan + dedup-exchange + materialize bound —
    // the removed exchange/sort is ~1 s here but a full extra edge pass
    // at cluster scale); deg values identical (count of distinct
    // out-edges per src).
    val edges = edgesRaw
      .select(col(srcCol).cast("string").as("src"), col(dstCol).cast("string").as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("_m")).drop("_m")
    val weT = Checkpoints.truncateTracked(edges, eager = true)
    val we = weT.df
    // every node with its out-degree (null deg = dangling) — the second
    // per-iteration re-entrant table. Derived from the CHECKPOINTED edge
    // list, not the raw input: so building it costs one aggregate over
    // the materialized edges, never another pass over the input.
    val srcDeg = we.groupBy(col("src"))
      .agg(count(lit(1)).cast("double").as("deg"))
      .select(col("src").as("node"), col("deg"))
    val ndT = Checkpoints.truncateTracked(
      srcDeg.unionByName(
        we.select(col("dst").as("node")).distinct()
          .join(srcDeg.select("node"), Seq("node"), "left_anti")
          .withColumn("deg", lit(null).cast("double"))),
      eager = true)
    val nodesDeg = ndT.df
    val nScalar = broadcast(nodesDeg.agg(count(lit(1)).cast("double").as("_n")))
    // (1 - damping) computed in IEEE double on BOTH engines (the oracle
    // writes `1 - 0.85`, not a decimal literal) so the teleport term is
    // bit-identical
    val teleport = lit(1.0 - damping)
    var r = nodesDeg.crossJoin(nScalar)
      .select(col("node"), col("deg"), round(lit(1.0) / col("_n"), 9).as("r"))
    var releasePrev: () => Unit = () => ()
    for (it <- 1 to iters) {
      // Iteration shape: shuffled-hash, not
      // sort-merge — the hint removes the per-iteration re-sort of the
      // edge list that SMJ would pay (the build side is the rank table,
      // bounded by node count); and the per-edge `r/deg` division moves
      // to the RANK side (deg rides the rank table), so the edge list
      // shuffles only (src, dst) — the same doubles summed, node-count
      // divisions instead of edge-count ones.
      val contrib = we.select("src", "dst").join(
          r.select(col("node"), (col("r") / col("deg")).as("_c"))
            .where(col("_c").isNotNull).hint("shuffle_hash"),
          col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(round(sum(col("_c")), 9).as("contrib"))
        .select(col("dst").as("node"), col("contrib"))
      // dangling mass: nodes with no out-edges — deg rides in the rank
      // table, so this is a scan of the previous checkpoint, no join
      val dangling = broadcast(
        r.where(col("deg").isNull)
          .agg(coalesce(round(sum(col("r")), 9), lit(0.0)).as("_mass")))
      val nextT = Checkpoints.truncateTracked(
        nodesDeg.join(contrib.hint("shuffle_hash"), Seq("node"), "left")
          .crossJoin(nScalar).crossJoin(dangling)
          .select(col("node"), col("deg"),
            round(teleport / col("_n") + lit(damping) *
              (coalesce(col("contrib"), lit(0.0)) + col("_mass") / col("_n")),
              9).as("rank")),
        eager = true)
      releasePrev() // new generation materialized; drop the old one
      releasePrev = nextT.release
      r = nextT.df.withColumnRenamed("rank", "r")
    }
    val finalRelease = releasePrev
    Checkpoints.Truncated(
      r.select(col("node"), col("r").as("rank")),
      () => { weT.release(); ndT.release(); finalRelease() })
  }
}
