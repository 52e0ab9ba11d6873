package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming over the `events` table shape.
  *
  * The reference has NO continuous processing (SURVEY.md §2.10 — its
  * "streaming" is subprocess pipes); this module is the value-add mandated
  * by the build plan. Design notes for cluster scale:
  *  - all aggregations are keyed on (window/event_type/user_id) so state
  *    partitions across executors;
  *  - watermarks bound state: late data beyond the watermark is dropped
  *    rather than growing state without limit;
  *  - sessionization uses mapGroupsWithState with event-time timeout —
  *    per-user state is O(1) (current session aggregate), never a buffer
  *    of events.
  */
object EventStreams {

  /** File-source stream of the events table (same schema normalization as
    * Tables.load: ts_ns long + µs ts).
    */
  def readEvents(spark: SparkSession, dir: String,
                 glob: String = "events.parque[t]"): DataFrame = {
    // raw file schema (physical ts type varies by testdata vintage), from a
    // batch read
    val raw = spark.read.parquet(s"$dir/$glob").schema
    // glob form: FileStreamSource requires a directory basePath; a glob
    // resolves basePath to the parent dir while matching only the table.
    // Append-mode watermark note: a window/session only emits once the
    // watermark passes it and the watermark only advances on new data —
    // a finite replay's trailing windows stay in state; tests stage a
    // far-future sentinel event for exactly this reason.
    graft.Tables.normalizeEvents(
      spark.readStream.schema(raw).parquet(s"$dir/$glob"))
  }

  /** Tumbling-window counts + sums per event type with a watermark.
    * Map-side partial aggregation applies before the state-store shuffle.
    */
  def hourlyCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** Streaming mergeable value histogram: tumbling 1 h windows × a
    * caller-supplied integer bin column. The per-(window, bin) counts
    * are the QUANTILE SKETCH for a stream — counts are associative and
    * map-side combinable, state per window is bounded by the bin count
    * (never the event count), and any downstream reader can derive any
    * percentile from the closed window's bins with pure integer math.
    * This is the streaming analog of the batch equi-depth machinery:
    * fixed bins trade exactness for O(bins) mergeable state, which is
    * the only shape that survives unbounded streams.
    */
  def histogramCounts(events: DataFrame, bin: Column,
                      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), bin.as("bin"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("hour"), col("bin"), col("cnt"))

  /** Sliding windows (1h window, 15m slide). */
  def slidingCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("wstart"), col("event_type"), col("cnt"))

  /** Streaming exact dedup on key columns, state bounded by the
    * watermark (`dropDuplicatesWithinWatermark`): duplicates arriving
    * within the watermark window are dropped; state for older keys is
    * evicted — the training-pipeline "dedupe the firehose" operator with
    * bounded memory at any scale.
    */
  def dedupStream(events: DataFrame, keys: Seq[String],
                  watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Stream-static enrichment join — the lookup-dimension shape every
    * event pipeline runs (event → geo/account/catalog attributes). The
    * static side is a bounded DataFrame re-planned per micro-batch (dim
    * changes between batches are picked up) and explicitly broadcast, so
    * the stream side never shuffles for the join and NO state is kept: a
    * stateless inner equi-join needs no watermark, and append mode emits
    * each enriched row in the batch it arrives. The only scaling
    * dimension at a 100 TB/day stream is the dim's broadcast size — the
    * same rule as the batch broadcast join (DistributedCache analog,
    * reference: `src/mapred/org/apache/hadoop/filecache/DistributedCache.java:33`).
    */
  def enrichStatic(events: DataFrame, dim: DataFrame,
                   eventKey: Column, dimKey: Column): DataFrame =
    events.join(broadcast(dim), eventKey === dimKey)

  /** Stream-stream interval join: each purchase matched to the same
    * user's clicks in the preceding `windowSec` seconds. Both sides are
    * watermarked so the join state is bounded — Spark drops click state
    * older than the watermark minus the interval, purchases beyond the
    * watermark. The equality key (user_id) partitions state across
    * executors; the time-range predicate bounds how much of each user's
    * history is retained.
    */
  def purchaseAttribution(events: DataFrame, windowSec: Long = 3600,
                          watermark: String = "2 hours"): DataFrame = {
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    val clicks = events.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", watermark)
    purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowSec SECONDS") &&
        col("c_ts") <= col("p_ts"))
      .select(col("purchase_id"), col("user_id"), col("click_id"))
  }

  /** LEFT OUTER stream-stream interval join — conversion funnel: every
    * view, matched to the same user's purchases in the `windowSec` after
    * it, or emitted with a NULL purchase once no future match is
    * possible. The outer side is the semantically distinct capability
    * vs [[purchaseAttribution]]: an unmatched view can only emit when
    * the RIGHT side's watermark has passed `v_ts + windowSec` (Spark
    * holds it in state until then and emits the null-extended row as
    * state evicts), so correctness of the null rows is exactly
    * correctness of the watermark/state-eviction machinery — which is
    * what the oracle's batch LEFT JOIN checks end-to-end.
    *
    * State bound (the 100 TB/day concern) is the same as the inner
    * form: each side keeps only rows newer than watermark − window,
    * partitioned by user across executors.
    */
  def viewConversion(events: DataFrame, windowSec: Long = 3600,
                     watermark: String = "2 hours"): DataFrame = {
    // Watermark placement note: each side's clock advances only on rows
    // that SURVIVE its event-type filter — and that holds even if the
    // watermark is declared upstream, because Catalyst pushes a filter
    // that doesn't touch the event-time column back below the
    // EventTimeWatermark node. Consequence the test harness (and any
    // deployment draining a topic) must respect: the unmatched-view tail
    // only flushes when BOTH substreams see newer data — a
    // watermark-advancing control row must pass both filters, one typed
    // row per side. Inner joins never surface this (unmatched state
    // silently never emits); the outer form turns it into observable
    // missing rows.
    val views = events.where(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", watermark)
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    views.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr(s"INTERVAL $windowSec SECONDS"),
      "leftOuter")
      .select(col("view_id"), col("user_id"), col("purchase_id"))
  }

  final case class SessionEvent(user_id: Long, ts: Timestamp, value: Double)
  final case class SessionState(start: Long, lastSec: Long, n: Int, sum: Double)
  final case class SessionOut(user_id: Long, startSec: Long, endSec: Long,
                              n_events: Int, sum_value: Double)

  /** Stateful sessionization: 30-min-gap sessions per user via
    * flatMapGroupsWithState with event-time timeout. Emits a session when
    * the gap closes it or the watermark times the state out.
    */
  def sessionize(events: DataFrame, gapSec: Long = 1800,
                 watermark: String = "2 hours"): Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"), col("value"))
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(uid, s.start, s.lastSec, s.n, s.sum))
          } else {
            // events within a micro-batch arrive unordered: sort this
            // batch (bounded by batch size, not stream size)
            val evs = it.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            evs.foreach { e =>
              val sec = e.ts.getTime / 1000
              cur match {
                case Some(s) if sec - s.lastSec <= gapSec =>
                  cur = Some(s.copy(lastSec = sec, n = s.n + 1, sum = s.sum + e.value))
                case Some(s) =>
                  closed += SessionOut(uid, s.start, s.lastSec, s.n, s.sum)
                  cur = Some(SessionState(sec, sec, 1, e.value))
                case None =>
                  cur = Some(SessionState(sec, sec, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastSec * 1000 + gapSec * 1000)
            }
            closed.result().iterator
          }
      }
  }

  final case class FunnelEvent(user_id: Long, ts: Timestamp, stage: Int,
                               tUs: Long)
  final case class FunnelState(done: Seq[Long], pending: Seq[(Int, Long)],
                               maxSeenMs: Long)
  final case class FunnelOut(user_id: Long, t1_us: Option[Long],
                             t2_us: Option[Long], t3_us: Option[Long],
                             reached: Long)

  /** The greedy strict-ordering funnel chain, advanced as far as the
    * watermark allows. A chain entry is FINAL once appended: it was the
    * minimum qualifying time ≤ the watermark, and every future arrival
    * has event time > watermark, so nothing can undercut it — the same
    * argument that lets stream-stream joins discard matched state. After
    * advancing, every pending event at or below the watermark is either
    * consumed or provably useless (its stage is already finalized, or a
    * qualifying predecessor would need a time > watermark > its own), so
    * the buffer only ever holds events above the watermark: state is
    * bounded by rate × watermark delay, never by user history.
    */
  private def funnelAdvance(st: FunnelState, wmUs: Long,
                            nStages: Int): FunnelState = {
    var done = st.done
    var progressed = true
    while (progressed && done.length < nStages) {
      val need = done.length
      val last = if (done.isEmpty) Long.MinValue else done.last
      val cand = st.pending.collect {
        case (s, t) if s == need && t > last && t <= wmUs => t
      }
      if (cand.isEmpty) progressed = false else done = done :+ cand.min
    }
    FunnelState(done, st.pending.filter(_._2 > wmUs), st.maxSeenMs)
  }

  /** Streaming conversion funnel — the stateful counterpart of
    * [[graft.ops.EventAnalytics.funnel]], same strict-ordering
    * semantics (stage i+1 strictly after the finalized stage-i time),
    * emitting one row per user when the watermark closes their activity.
    * Up to 3 stages (the output row is fixed-width). Non-stage events
    * pass through untouched — they advance nothing, so a far-future
    * sentinel of a foreign type moves the WATERMARK without postponing
    * any user's timeout.
    */
  def funnelStream(events: DataFrame, stages: Seq[String],
                   watermark: String = "2 hours"): Dataset[FunnelOut] = {
    require(stages.nonEmpty && stages.length <= 3,
      "funnelStream supports 1..3 stages")
    val n = stages.length
    val spark = events.sparkSession
    import spark.implicits._
    val stageIdx = stages.zipWithIndex
      .foldLeft(lit(-1)) { case (acc, (st, i)) =>
        when(col("event_type") === st, lit(i)).otherwise(acc)
      }
    events
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"), stageIdx.as("stage"),
        expr("ts_ns DIV 1000").as("tUs"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, it: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          def finalize(st: FunnelState): Iterator[FunnelOut] = {
            val d = funnelAdvance(st, Long.MaxValue, n).done
            if (d.isEmpty) Iterator.empty
            else Iterator(FunnelOut(uid, d.lift(0), d.lift(1), d.lift(2),
              d.length.toLong))
          }
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            finalize(st)
          } else {
            val evs = it.toSeq
            val prev = state.getOption.getOrElse(FunnelState(Nil, Nil, 0L))
            val staged = evs.filter(_.stage >= 0)
            // stage events only: a foreign-type sentinel must not push
            // this user's timeout past the watermark it creates
            val maxSeen = (prev.maxSeenMs +: staged.map(_.ts.getTime)).max
            val wmMs = math.max(0L, state.getCurrentWatermarkMs())
            val st = funnelAdvance(
              FunnelState(prev.done,
                prev.pending ++ staged.map(e => (e.stage, e.tUs)), maxSeen),
              wmMs * 1000L, n)
            val target = st.maxSeenMs + 1000L
            if (target > wmMs) {
              state.update(st)
              state.setTimeoutTimestamp(target)
              Iterator.empty
            } else {
              // past due (watermark already beyond this user's activity):
              // a timeout would never legally schedule — finalize now
              state.remove()
              finalize(st)
            }
          }
      }
  }

  /** Scale-adaptive state-store partition count, derived from the bytes
    * actually staged for the stream (optimization guide §2: derive
    * partitioning from input size, never a constant tuned for one
    * deployment). Stateful micro-batches cannot use AQE coalescing
    * (Spark disables AQE for stateful workloads), so the state-store
    * partition count is whatever `spark.sql.shuffle.partitions` says
    * when the checkpoint is created — and every micro-batch then pays
    * one task + one state-store commit PER PARTITION PER STATEFUL
    * OPERATOR regardless of data volume (a delta file on the heap
    * provider; a changelog file plus one open native RocksDB instance
    * on RocksDB — see [[stateProviderFor]]). Sizing: one partition per
    * `graft.stream.bytesPerStatePartition` staged bytes (default 32 MiB),
    * capped at 4× the cluster's default parallelism (the cap rules at
    * 100 TB — partitions scale with the cluster; the byte rule rules on
    * a small replay, where 32 state files per micro-batch is pure
    * overhead: measured at sf0.1, 32 → 2 partitions reads
    * q_stream_attribution 12.2 → 3.0 s, q_stream_join_outer
    * 13.8 → 2.9 s, q_stream_hourly 7.7 → 2.9 s on the A/B probe).
    * Floor 1: partition count never changes RESULTS, only layout —
    * grouped state is keyed logically, and a restarted query takes its
    * count from the checkpoint metadata, not this formula.
    */
  def adaptiveStatePartitions(spark: SparkSession, stagedDirs: String*): Int =
    statePartitionsFor(spark, stagedBytes(spark, stagedDirs))

  private def statePartitionsFor(spark: SparkSession, total: Long): Int = {
    val perPart = spark.conf.getOption("graft.stream.bytesPerStatePartition")
      .map(_.toLong).getOrElse(32L * 1024 * 1024)
    val cap = math.max(1L, spark.sparkContext.defaultParallelism.toLong * 4)
    math.max(1L, math.min(cap, (total + perPart - 1) / perPart)).toInt
  }

  private def stagedBytes(spark: SparkSession, stagedDirs: Seq[String]): Long = {
    // Size through Hadoop's FileSystem so hdfs://,
    // s3a:// and other non-local staging URIs are measured instead of
    // silently totalling 0 bytes (which pinned ONE state partition at
    // deployment scale); a mistyped/missing dir still degrades to the
    // floor — staging dirs are created by the same caller that streams
    // them, so a hard failure here would only mask the real error.
    def bytes(d: String): Long = try {
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    } catch { case scala.util.control.NonFatal(_) => 0L }
    stagedDirs.map(bytes).sum
  }

  val StateProviderKey = "spark.sql.streaming.stateStore.providerClass"
  val HeapStateProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
  val RocksDBStateProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** State-store provider for a replay of `stagedBytes` input bytes, the
    * way the reference's reduce side keeps a fetched segment in memory
    * only while it fits the shuffle buffer and otherwise sends it to
    * disk. Up to 1/16 of `heapBytes` (this JVM's max heap, which local
    * mode's executors share; on a cluster the driver's heap stands in
    * for theirs) the state stays in the heap provider's hash maps: it
    * holds two state versions per partition, and decoded rows outweigh
    * their parquet bytes, so the input must be a small slice of the
    * heap. Past it the state goes to RocksDB, off the heap.
    *
    * Small replays are the heap's side because RocksDB's cost is per
    * row: every state row is a JNI put and get, which made the sf0.1
    * stream joins and stream dedup 27–67 % slower (SCALING.md, the
    * state-store residue note). A stream started without
    * [[withStagedState]] — an open-ended ingest whose input is not
    * staged up front — keeps the session default, RocksDB
    * ([[graft.GraftSession]]), since its state grows with everything it
    * will read.
    */
  def stateProviderFor(stagedBytes: Long,
                       heapBytes: Long = Runtime.getRuntime.maxMemory): String =
    if (stagedBytes <= heapBytes / 16) HeapStateProvider else RocksDBStateProvider

  /** Run `body` (a stream start + drain over the files staged under
    * `stagedDirs`) with the state-store partition count and provider
    * chosen from the staged bytes ([[adaptiveStatePartitions]],
    * [[stateProviderFor]]). Both confs are read at query START and then
    * pinned in the checkpoint, so a restarted query keeps what its first
    * run chose. Same single-threaded caveat as [[withStatePartitions]].
    */
  def withStagedState[T](spark: SparkSession, stagedDirs: String*)(body: => T): T = {
    val bytes = stagedBytes(spark, stagedDirs)
    withStatePartitions(spark, statePartitionsFor(spark, bytes)) {
      withConf(spark, StateProviderKey, stateProviderFor(bytes))(body)
    }
  }

  /** Run `body` (a stream start + drain) with
    * `spark.sql.shuffle.partitions` pinned to `n`, restoring the
    * caller's value afterwards. The conf is read by the streaming
    * planner at query START (then pinned in checkpoint metadata), so
    * the override must bracket `.start()`; batch work outside the
    * bracket keeps the session default + AQE.
    *
    * NOT reentrant/concurrency-safe: the bracket mutates
    * a session-global conf, so a concurrent query planned on the same
    * session inside the bracket inherits the pinned count, and nested
    * brackets restore last-writer-wins. Verify/Bench run queries
    * sequentially on one thread — the single-threaded assumption this
    * relies on; a concurrent deployment should give the bracketed
    * stream its own `SparkSession.newSession()`.
    */
  def withStatePartitions[T](spark: SparkSession, n: Int)(body: => T): T =
    withConf(spark, "spark.sql.shuffle.partitions", n.toString)(body)

  private def withConf[T](spark: SparkSession, key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Run any of the above to a memory sink until all available data is
    * processed (test/batch-replay entry point).
    */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode = OutputMode.Append()): Unit = {
    val q = df.writeStream
      .format("memory").queryName(name).outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    awaitBounded(q)
  }

  /** Bounded replacement for `StreamingQuery.awaitTermination()` — the
    * ONE wait policy every AvailableNow micro-batch run in the engine
    * and the correctness suite shares: a wedged batch fails ITS caller
    * (and stops the stream) instead of hanging the whole run. 10 min is
    * ~40× the slowest observed batch.
    */
  def awaitBounded(q: org.apache.spark.sql.streaming.StreamingQuery,
                   timeoutMs: Long = 600000L): Unit =
    if (!q.awaitTermination(timeoutMs)) {
      q.stop()
      throw new RuntimeException(
        s"stream query did not finish within ${timeoutMs / 1000}s")
    }
}
