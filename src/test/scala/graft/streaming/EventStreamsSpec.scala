package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

class EventStreamsSpec extends SparkSpec {

  /** Stage dir = real events file + one far-future sentinel event.
    * Append-mode emits a window/session only when the watermark passes it;
    * the sentinel pushes the watermark beyond all real data so every real
    * window flushes. Sentinel rows (user_id = -1) are filtered from
    * assertions.
    */
  private lazy val stagedDir: String = {
    val stage = Files.createTempDirectory("events-stage")
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      stage.resolve("aa_events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // sentinel in the RAW file's own ts dtype (long nanos or timestamp[us]
    // depending on testdata vintage) so both parquets share one schema
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val maxNs = graft.Tables.eventsTsRangeNs(raw)._2
    val sentinel = raw.limit(1)
      .withColumn("event_id", lit(-1L))
      .withColumn("ts", graft.Tables.tsLitAsRaw(raw, maxNs + 30L * 86400 * 1000000000L))
      .withColumn("user_id", lit(-1L))
      .withColumn("event_type", lit("sentinel"))
      .withColumn("value", lit(0.0))
      .withColumn("props", lit(""))
    val tmpOut = Files.createTempDirectory("sentinel").toString
    sentinel.coalesce(1).write.mode("overwrite").parquet(tmpOut)
    val part = Files.list(Paths.get(tmpOut)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.copy(part, stage.resolve("zz_sentinel.parquet"))
    stage.toString
  }

  private def staged = EventStreams.readEvents(spark, stagedDir, "*.parquet")
    .where(col("user_id") =!= -1 || col("event_type") === "sentinel")

  test("hourly windowed counts over the stream match the batch aggregation") {
    EventStreams.runToMemory(
      EventStreams.hourlyCounts(staged), "hourly", OutputMode.Append())
    val streamed = spark.table("hourly")
      .where(col("event_type") =!= "sentinel")
      .select(col("hour"), col("event_type"), col("cnt"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    val batch = graft.Tables.load(spark, sfDir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("sliding windows produce 4x window coverage per event") {
    EventStreams.runToMemory(
      EventStreams.slidingCounts(staged), "sliding", OutputMode.Append())
    val total = spark.table("sliding")
      .where(col("event_type") =!= "sentinel")
      .agg(sum("cnt")).head().getLong(0)
    val nEvents = graft.Tables.load(spark, sfDir, "events").count()
    assert(total == nEvents * 4) // 1h window / 15m slide = 4 windows per event
  }

  test("stream-stream interval join matches the batch non-equi join") {
    EventStreams.runToMemory(
      EventStreams.purchaseAttribution(staged), "attribution",
      OutputMode.Append())
    val streamed = spark.table("attribution")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet

    val ev = graft.Tables.load(spark, sfDir, "events")
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
    val c = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("click_id"))
    val batch = p.join(c, col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 3600 SECONDS") &&
        col("c_ts") <= col("p_ts"))
      .select("purchase_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("left-outer view conversion emits matches AND watermark-flushed null tails") {
    import spark.implicits._
    val t0 = 1700000000L * 1000000000L // ns
    def ev(id: Long, user: Long, typ: String, offSec: Long) =
      (id, t0 + offSec * 1000000000L, user, typ, 0.0, "")
    val rows = Seq(
      ev(1, 1, "view", 0), ev(2, 1, "purchase", 600),  // within the hour
      ev(3, 2, "view", 0),                             // no purchase at all
      ev(4, 3, "purchase", 0),                         // purchase-only user
      ev(5, 4, "view", 0), ev(6, 4, "purchase", 7200), // outside the window
      // typed sentinels: the outer join's null rows flush only when BOTH
      // sides' post-filter watermarks advance (viewConversion scaladoc)
      ev(-1, -1, "view", 30L * 86400), ev(-2, -1, "purchase", 30L * 86400))
    val stage = Files.createTempDirectory("vjoin-stage").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(stage)
    EventStreams.runToMemory(
      EventStreams.viewConversion(
        EventStreams.readEvents(spark, stage, "*.parquet")),
      "vconv", OutputMode.Append())
    val got = spark.table("vconv").where(col("view_id") >= 0)
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(got == Set((1L, 2L), (3L, -1L), (5L, -1L)))
  }

  test("streaming dedup drops the duplicated file's events") {
    // stage: events file TWICE (simulated duplicate delivery) + sentinel
    val stage = Files.createTempDirectory("events-dup")
    Files.copy(Paths.get(s"$sfDir/events.parquet"), stage.resolve("aa.parquet"))
    Files.copy(Paths.get(s"$sfDir/events.parquet"), stage.resolve("bb.parquet"))
    Files.copy(Paths.get(s"$stagedDir/zz_sentinel.parquet"), stage.resolve("zz.parquet"))
    val stream = EventStreams.readEvents(spark, stage.toString, "*.parquet")
    EventStreams.runToMemory(
      EventStreams.dedupStream(stream, Seq("event_id")), "deduped",
      OutputMode.Append())
    val n = spark.table("deduped").where(col("user_id") =!= -1).count()
    assert(n == graft.Tables.load(spark, sfDir, "events").count())
  }

  test("checkpointed restart processes only new files (exactly-once sink)") {
    val stage = Files.createTempDirectory("events-ckpt")
    val ckpt = Files.createTempDirectory("ckpt").toString
    val outDir = Files.createTempDirectory("out").toString + "/counts"
    Files.copy(Paths.get(s"$sfDir/events.parquet"), stage.resolve("aa.parquet"))

    def runOnce(): Unit = {
      val stream = EventStreams.readEvents(spark, stage.toString, "*.parquet")
      val q = EventStreams.hourlyCounts(stream, watermark = "1 minute")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce() // batch 1: real events (tail windows held in state)
    // add the sentinel -> watermark jumps past all real data
    Files.copy(Paths.get(s"$stagedDir/zz_sentinel.parquet"), stage.resolve("zz.parquet"))
    runOnce() // restart from checkpoint: only the new file processed

    val out = spark.read.parquet(outDir).where(col("event_type") =!= "sentinel")
    val batch = graft.Tables.load(spark, sfDir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
    // exactly-once: every (hour, type) appears once with the batch count
    assert(out.count() == batch.count())
    val diff = out.select("hour", "event_type", "cnt")
      .exceptAll(batch.select("hour", "event_type", "cnt")).count()
    assert(diff == 0)
  }

  test("stateful sessionization matches the batch window-function sessions") {
    val sess = EventStreams.sessionize(staged)
    EventStreams.runToMemory(sess.toDF(), "sessions", OutputMode.Append())
    val streamed = spark.table("sessions")
      .where(col("user_id") =!= -1)
      .select("user_id", "startSec", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSet

    // batch reference: same 30-min-gap rule via window functions
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select(col("user_id"), expr("ts_ns DIV 1000000000").as("sec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("sec")
    val batch = ev
      .withColumn("gap", col("sec") - lag("sec", 1).over(w))
      .withColumn("is_new", when(col("gap").isNull || col("gap") > 1800, 1L).otherwise(0L))
      .withColumn("sess", sum("is_new").over(w))
      .groupBy("user_id", "sess")
      .agg(min("sec").as("startSec"), count(lit(1)).as("n_events"))
      .select("user_id", "startSec", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("streaming funnel matches the batch strict-order funnel") {
    val out = EventStreams.funnelStream(staged,
      Seq("view", "click", "purchase"))
    EventStreams.runToMemory(out.toDF(), "funnel", OutputMode.Append())
    def row(r: org.apache.spark.sql.Row) =
      (r.getLong(0), Option(r.get(1)), Option(r.get(2)), Option(r.get(3)),
        r.getLong(4))
    val streamed = spark.table("funnel")
      .where(col("user_id") =!= -1)
      .select("user_id", "t1_us", "t2_us", "t3_us", "reached")
      .collect().map(row).toSet
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_type"),
        expr("ts_ns DIV 1000").as("us"))
    val batch = graft.ops.EventAnalytics
      .funnel(ev, "user_id", "event_type", "us",
        Seq("view", "click", "purchase"))
      .collect().map(row).toSet
    assert(streamed == batch)
  }

  test("streaming near-dup ingest ≡ batch incremental replay (r15 stretch)") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.DataFrame
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val history = docs.where(col("doc_id") % 3 === 0)
    val batch = docs.where(col("doc_id") % 3 =!= 0)
      .unionByName(docs.where(col("doc_id") % 3 === 0 && col("doc_id") < 120)
        .select((col("doc_id") + lit(5000000L)).as("doc_id"),
          concat(col("text"), lit(" graftzz")).as("text")))
    val root = Files.createTempDirectory("stream_neardup").toString
    def stage(df: DataFrame, name: String): Unit = {
      val tmpd = s"$root/_w_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmpd)
      val part = Files.list(Paths.get(tmpd))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, Paths.get(s"$root/in/$name.parquet"))
    }
    Files.createDirectories(Paths.get(s"$root/in"))
    def run(): Unit = {
      val q = StreamDedup.nearDupPairs(
          spark.readStream.schema("doc_id BIGINT, text STRING")
            .parquet(s"$root/in/*.parquet"),
          threshold = 0.8, maxBucket = 1000000)
        .writeStream.format("parquet")
        .option("path", s"$root/sink")
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      EventStreams.awaitBounded(q)
    }
    // micro-batch 1 fills the bucket state; micro-batch 2 probes it
    stage(history, "hist"); run()
    stage(batch, "batch"); run()
    val streamed = spark.read.parquet(s"$root/sink")
      .select("batch_id", "hist_id", "jaccard").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val replay = graft.dedup.Dedup.incrementalNearDups(batch, history,
        threshold = 0.8, maxBucket = 1000000).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // the 40 planted re-crawls guarantee a non-degenerate comparison
    assert(streamed.nonEmpty, "stream emitted no pairs")
    // id-pair sets must match EXACTLY; jaccard within epsilon — the
    // stream's Jaccard is over distinct 60-bit md5-prefix shingle
    // HASHES while the batch replay intersects shingle STRINGS, equal
    // only absent hash collisions (negligible but not impossible)
    assert(streamed.keySet == replay.keySet,
      s"stream-only: ${(streamed.keySet -- replay.keySet).take(3)}; " +
        s"batch-only: ${(replay.keySet -- streamed.keySet).take(3)}")
    streamed.foreach { case (k, j) =>
      assert(math.abs(j - replay(k)) < 1e-4, s"jaccard drift at $k: $j vs ${replay(k)}")
    }
    // every emission pairs a NEW doc with an EARLIER one — never two
    // same-batch arrivals (the incremental contract)
    assert(streamed.keySet.forall { case (_, h) => h % 3 == 0 })
  }

  test("TTL near-dup state ages history out of the dedup horizon") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.DataFrame
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(h: Double) = new java.sql.Timestamp(
      base.getTime + (h * 3600000).toLong)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    // history: an OLD half (ts = base) and a RECENT half (base + 3h)
    val histOld = docs
      .where(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 0)
      .withColumn("ts", lit(at(0)))
    val histRecent = docs
      .where(col("doc_id") % 3 === 0 && col("doc_id") % 2 === 1)
      .withColumn("ts", lit(at(3.0)))
    // batch: fresh docs + re-crawls of BOTH history halves
    val batch = docs.where(col("doc_id") % 3 =!= 0)
      .unionByName(docs.where(col("doc_id") % 3 === 0 && col("doc_id") < 240)
        .select((col("doc_id") + lit(5000000L)).as("doc_id"),
          concat(col("text"), lit(" graftzz")).as("text")))
      .withColumn("ts", lit(at(4.0)))
    val root = Files.createTempDirectory("stream_neardup_ttl").toString
    def stage(df: DataFrame, name: String): Unit = {
      val tmpd = s"$root/_w_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmpd)
      val part = Files.list(Paths.get(tmpd))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, Paths.get(s"$root/in/$name.parquet"))
    }
    Files.createDirectories(Paths.get(s"$root/in"))
    def run(): Unit = {
      val q = StreamDedup.nearDupPairsTtl(
          spark.readStream.schema("doc_id BIGINT, text STRING, ts TIMESTAMP")
            .parquet(s"$root/in/*.parquet"),
          tsCol = "ts", horizonMs = 2L * 3600 * 1000,
          threshold = 0.8, maxBucket = 1000000)
        .writeStream.format("parquet")
        .option("path", s"$root/sink")
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      EventStreams.awaitBounded(q)
    }
    stage(histOld.unionByName(histRecent), "hist"); run()
    stage(batch, "batch"); run()
    val streamed = spark.read.parquet(s"$root/sink")
      .select("batch_id", "hist_id", "jaccard").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // watermark at the batch's processing instant = phase-1 max event
    // time (base+3h, delay 0): histOld's ts + 2h horizon sits behind it
    // — out of the horizon — so the batch replay's history is
    // histRecent ONLY. Same id-pair set, jaccard within epsilon (the
    // hash-set-vs-string-shingle convention of the NoTimeout test).
    val replay = graft.dedup.Dedup.incrementalNearDups(
        batch.drop("ts"), histRecent.drop("ts"),
        threshold = 0.8, maxBucket = 1000000).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(streamed.nonEmpty, "TTL stream emitted no pairs")
    assert(streamed.keySet == replay.keySet,
      s"stream-only: ${(streamed.keySet -- replay.keySet).take(3)}; " +
        s"batch-only: ${(replay.keySet -- streamed.keySet).take(3)}")
    streamed.foreach { case (k, j) =>
      assert(math.abs(j - replay(k)) < 1e-4, s"jaccard drift at $k")
    }
    // the sharp TTL claim: no emitted pair references an aged-out
    // (even-id) history doc, and pairs against recent docs DO exist —
    // the re-crawls covered both halves, so absence is eviction
    assert(streamed.keySet.forall { case (_, h) => h % 2 == 1 },
      "pair referenced an aged-out history doc")
    assert(streamed.keySet.exists { case (b, _) => b >= 5000000L })
  }

  test("streaming crawl front door ≡ batch exact+near replay (r16 stretch)") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    // history pages, then a crawl batch with three planted re-crawl classes
    val (hist, batch) = graft.MoreQueries.frontDoorCrawl(
      spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "source", "text"))
    val root = Files.createTempDirectory("stream_frontdoor").toString
    def stage(df: DataFrame, name: String): Unit = {
      val tmpd = s"$root/_w_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmpd)
      val part = Files.list(Paths.get(tmpd))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, Paths.get(s"$root/in/$name.parquet"))
    }
    Files.createDirectories(Paths.get(s"$root/in"))
    def run(): Unit = {
      val q = StreamDedup.frontDoor(
          spark.readStream.schema("crawl_id BIGINT, html STRING")
            .parquet(s"$root/in/*.parquet"),
          threshold = 0.8, maxBucket = 1000000)
        .writeStream.format("parquet")
        .option("path", s"$root/sink")
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      EventStreams.awaitBounded(q)
    }
    stage(hist, "hist"); run()
    stage(batch, "batch"); run()
    val sink = spark.read.parquet(s"$root/sink").distinct()
    val streamedExact = sink.where(col("exact"))
      .select("new_id", "dup_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamedNear = sink.where(!col("exact"))
      .select("new_id", "dup_id", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

    // batch replay of the same front door: extraction → exact holder
    // mapping over (history, then batch) arrival order → incremental
    // near-dups of the exact-survivors against the hash-canonical history
    def extracted(p: DataFrame, phase: Int): DataFrame =
      p.select(col("crawl_id"),
        replace(graft.text.Html.htmlMainText(col("html")),
          lit("\n"), lit(" ")).as("text"), lit(phase).as("phase"))
    val all = extracted(hist, 0).unionByName(extracted(batch, 1))
      .withColumn("h", md5(col("text")))
    val w = Window.partitionBy("h").orderBy("phase", "crawl_id")
    val ranked = all
      .withColumn("rn", row_number().over(w))
      .withColumn("holder", first("crawl_id").over(w))
      .localCheckpoint()
    val replayExact = ranked.where(col("rn") > 1)
      .select("crawl_id", "holder").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val survivors = ranked.where(col("phase") === 1 && col("rn") === 1)
      .select(col("crawl_id").as("doc_id"), col("text"))
    val histCanon = ranked.where(col("phase") === 0 && col("rn") === 1)
      .select(col("crawl_id").as("doc_id"), col("text"))
    val replayNear = graft.dedup.Dedup.incrementalNearDups(
        survivors, histCanon, threshold = 0.8, maxBucket = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

    assert(streamedExact == replayExact,
      s"exact stream-only: ${(streamedExact -- replayExact).take(3)}; " +
        s"batch-only: ${(replayExact -- streamedExact).take(3)}")
    assert(streamedNear.keySet == replayNear.keySet,
      s"near stream-only: ${(streamedNear.keySet -- replayNear.keySet).take(3)}; " +
        s"batch-only: ${(replayNear.keySet -- streamedNear.keySet).take(3)}")
    streamedNear.foreach { case (k, j) =>
      assert(math.abs(j - replayNear(k)) < 1e-4, s"jaccard drift at $k")
    }
    // all three planted classes are live: byte-identical re-crawls and
    // intra-batch dups land exact, ' graftzz' re-crawls land near
    assert(streamedExact.exists { case (n, _) => n >= 7000000L && n < 8000000L })
    assert(streamedExact.exists { case (n, _) => n >= 8000000L })
    assert(streamedNear.keySet.exists { case (n, _) => n >= 5000000L && n < 6000000L })
  }

  test("TTL evicts aged-out buckets from the state store (numRowsTotal)") {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.DataFrame
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(h: Double) = new java.sql.Timestamp(
      base.getTime + (h * 3600000).toLong)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).limit(120)
    val f1 = docs.withColumn("ts", lit(at(0)))
    // f2 far past the horizon; reversed text shares no shingles with f1
    // so every f1 bucket is untouched by data and must age out via the
    // event-time TIMEOUT path alone
    val f2 = docs.select((col("doc_id") + lit(7000000L)).as("doc_id"),
      reverse(col("text")).as("text"), lit(at(6.0)).as("ts"))
    def run(tag: String, ttl: Boolean): Long = {
      val root = Files.createTempDirectory(s"ttl_state_$tag").toString
      Files.createDirectories(Paths.get(s"$root/in"))
      Seq(f1 -> "f1", f2 -> "f2").zipWithIndex.foreach {
        case ((df, name), i) =>
          val tmpd = s"$root/_w_$name"
          df.coalesce(1).write.mode("overwrite").parquet(tmpd)
          val part = Files.list(Paths.get(tmpd))
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          val dst = Paths.get(s"$root/in/$name.parquet")
          Files.move(part, dst)
          dst.toFile.setLastModified(1000000000000L + i * 60000L)
      }
      val src = spark.readStream
        .schema("doc_id BIGINT, text STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "1").parquet(s"$root/in/*.parquet")
      val pairs =
        if (ttl) StreamDedup.nearDupPairsTtl(src, tsCol = "ts",
          horizonMs = 2L * 3600 * 1000, maxBucket = 1000000)
        else StreamDedup.nearDupPairs(src.drop("ts"), maxBucket = 1000000)
      val q = pairs.writeStream.format("parquet")
        .option("path", s"$root/sink")
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      EventStreams.awaitBounded(q)
      q.recentProgress.reverse
        .find(p => p.stateOperators != null && p.stateOperators.nonEmpty)
        .map(_.stateOperators(0).numRowsTotal).getOrElse(-1L)
    }
    val ttlRows = run("ttl", ttl = true)
    val noTtlRows = run("nottl", ttl = false)
    // NoTimeout holds every bucket ever seen; TTL must have dropped the
    // f1 buckets (f2's watermark sits 4h past their 2h horizon) — at
    // most the f2 buckets remain, i.e. well under half the total
    assert(noTtlRows > 0 && ttlRows >= 0,
      s"state metrics unavailable: ttl=$ttlRows nottl=$noTtlRows")
    assert(ttlRows <= noTtlRows / 2 + 1,
      s"TTL state not evicted: $ttlRows vs $noTtlRows")
  }

  test("near-dup bucket state ceiling poisons oversized buckets") {
    // maxBucket = 0: every bucket with any history is ineligible — the
    // okBuckets analog must yield zero pairs, not unbounded state
    import org.apache.spark.sql.streaming.Trigger
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).limit(60)
    val root = Files.createTempDirectory("stream_neardup_cap").toString
    Files.createDirectories(Paths.get(s"$root/in"))
    val tmpd = s"$root/_w"
    docs.coalesce(1).write.mode("overwrite").parquet(tmpd)
    val part = Files.list(Paths.get(tmpd))
      .filter(_.toString.endsWith(".parquet")).findFirst().get()
    Files.move(part, Paths.get(s"$root/in/a.parquet"))
    // the same file staged twice = guaranteed exact dups in batch 2
    Files.copy(Paths.get(s"$root/in/a.parquet"), Paths.get(s"$root/b.parquet"))
    def run(): Unit = {
      val q = StreamDedup.nearDupPairs(
          spark.readStream.schema("doc_id BIGINT, text STRING")
            .parquet(s"$root/in/*.parquet"),
          threshold = 0.8, maxBucket = 0)
        .writeStream.format("parquet")
        .option("path", s"$root/sink")
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      EventStreams.awaitBounded(q)
    }
    run()
    Files.move(Paths.get(s"$root/b.parquet"), Paths.get(s"$root/in/b.parquet"))
    run()
    assert(spark.read.parquet(s"$root/sink").count() == 0)
  }

  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val rocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val hdfsProvider =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  /** `body` with the session's state-store provider set to `provider`. */
  private def withProvider[T](provider: String)(body: => T): T = {
    val saved = spark.conf.get(providerKey)
    spark.conf.set(providerKey, provider)
    try body finally spark.conf.set(providerKey, saved)
  }

  /** The provider a checkpoint's offset log recorded for `batchId`. */
  private def recordedProvider(ckpt: String, batchId: Int): String = {
    val log = new String(Files.readAllBytes(Paths.get(s"$ckpt/offsets/$batchId")))
    val m = ("\"" + java.util.regex.Pattern.quote(providerKey) + "\":\"([^\"]+)\"")
      .r.findFirstMatchIn(log)
    m.map(_.group(1)).getOrElse(fail(s"no $providerKey in $ckpt/offsets/$batchId"))
  }

  test("RocksDB state store produces identical results to the HDFS-backed provider") {
    // at 100 TB the in-memory HDFS-backed state store is the wrong
    // provider — sessions/windows/join state must spill; GraftSession
    // therefore defaults to RocksDB. Both providers are named here, so
    // the comparison holds whatever the session default is.
    def sessions(provider: String, name: String): Set[(Long, Long, Long, Int)] =
      withProvider(provider) {
        EventStreams.runToMemory(EventStreams.sessionize(staged).toDF(), name,
          OutputMode.Append())
        spark.table(name)
          .where(col("user_id") =!= -1)
          .select("user_id", "startSec", "endSec", "n_events")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
      }
    val rocks = sessions(rocksProvider, "sessions_rocks")
    val hdfs = sessions(hdfsProvider, "sessions_hdfs")
    assert(rocks == hdfs && rocks.nonEmpty)
  }

  test("front-door checkpoints resume on the provider recorded in their offset log") {
    import org.apache.spark.sql.{DataFrame, SparkSession}
    import org.apache.spark.sql.streaming.Trigger
    assert(spark.conf.get(providerKey) == rocksProvider)
    val (hist, batch) = graft.MoreQueries.frontDoorCrawl(
      spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "source", "text"))
    val root = Files.createTempDirectory("frontdoor_restart").toString
    def stage(df: DataFrame, name: String): Path = {
      val tmpd = s"$root/_w_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmpd)
      Files.list(Paths.get(tmpd)).filter(_.toString.endsWith(".parquet")).findFirst().get()
    }
    val histFile = stage(hist, "hist")
    val batchFile = stage(batch, "batch")
    // a stream's input dir receives the staged files; the history file is
    // older, so one maxFilesPerTrigger=1 run reads it in micro-batch 0
    def feed(stream: String, file: Path, name: String, mtime: Long): Unit = {
      val to = Paths.get(s"$root/$stream/in/$name.parquet")
      Files.createDirectories(to.getParent)
      Files.copy(file, to)
      to.toFile.setLastModified(mtime)
    }
    def run(s: SparkSession, stream: String): Unit =
      EventStreams.withStatePartitions(s, 2) {
        val q = StreamDedup.frontDoor(
            s.readStream.schema("crawl_id BIGINT, html STRING")
              .option("maxFilesPerTrigger", "1")
              .parquet(s"$root/$stream/in/*.parquet"),
            threshold = 0.8, maxBucket = 1000000)
          .writeStream.format("parquet")
          .option("path", s"$root/$stream/sink")
          .option("checkpointLocation", s"$root/$stream/ckpt")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        EventStreams.awaitBounded(q)
      }
    // a restart: every loaded state store is closed, and the next run
    // starts from a new session, so state comes back from the checkpoint
    def fresh(): SparkSession = { graft.Bench.hygiene(spark); spark.newSession() }
    def sink(stream: String): DataFrame = spark.read.parquet(s"$root/$stream/sink")
    def hits(stream: String): Set[(Long, Long, Double, Boolean)] =
      sink(stream).select("new_id", "dup_id", "jaccard", "exact").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSet

    // one uninterrupted run on the default provider: history, then crawl
    feed("u", histFile, "hist", 1000000000000L)
    feed("u", batchFile, "batch", 1000000060000L)
    run(spark, "u")
    assert(recordedProvider(s"$root/u/ckpt", 0) == rocksProvider)

    // (a) a checkpoint made with the HDFS-backed provider, resumed under
    // the RocksDB default, keeps its provider and reads the crawl file
    val made = spark.newSession()
    made.conf.set(providerKey, hdfsProvider)
    feed("a", histFile, "hist", 1000000000000L)
    run(made, "a")
    val resumed = fresh()
    assert(resumed.conf.get(providerKey) == rocksProvider)
    feed("a", batchFile, "batch", 1000000060000L)
    run(resumed, "a")
    assert(recordedProvider(s"$root/a/ckpt", 0) == hdfsProvider)
    assert(recordedProvider(s"$root/a/ckpt", 1) == hdfsProvider)
    assert(hits("a") == hits("u"))
    assert(hits("a").exists(_._1 >= 5000000L))

    // (b) a RocksDB stream stopped after its history file and restarted
    // from a new session on the same checkpoint answers q_stream_frontdoor
    feed("b", histFile, "hist", 1000000000000L)
    run(spark.newSession(), "b")
    val restarted = fresh()
    feed("b", batchFile, "batch", 1000000060000L)
    run(restarted, "b")
    assert(recordedProvider(s"$root/b/ckpt", 0) == rocksProvider)
    assert(recordedProvider(s"$root/b/ckpt", 1) == rocksProvider)
    val expected = graft.MoreQueries.registry("q_stream_frontdoor")._1(spark, sfDir).collect().toSeq
    val got = graft.MoreQueries.frontDoorVerdicts(sink("b"), batch).collect().toSeq
    assert(got == expected)
    assert(got.exists(_.getString(1) == "near_dup") && got.exists(_.getString(1) == "exact_dup"))
  }

  test("Bench.hygiene closes every RocksDB state store and deletes its local copy") {
    // StateStore's loaded-provider map is private to Spark; read it
    // reflectively to reach the providers this query left loaded
    def loaded(): Map[String, AnyRef] = {
      val cls = Class.forName("org.apache.spark.sql.execution.streaming.state.StateStore$")
      val m = cls.getDeclaredMethod("loadedProviders")
      m.setAccessible(true)
      val map = m.invoke(cls.getField("MODULE$").get(null))
        .asInstanceOf[scala.collection.mutable.HashMap[AnyRef, AnyRef]]
      map.synchronized(map.toMap.map { case (k, v) => k.toString -> v })
    }
    def localDir(provider: AnyRef): java.io.File = {
      val db = provider.getClass.getMethod("rocksDB").invoke(provider)
      db.getClass.getMethod("localRootDir").invoke(db).asInstanceOf[java.io.File]
    }
    val ckpt = Files.createTempDirectory("hygiene_rocks").toString
    val runId = EventStreams.withStatePartitions(spark, 2) {
      val q = EventStreams.sessionize(staged).toDF().writeStream
        .format("noop").option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      EventStreams.awaitBounded(q)
      s"queryRunId=${q.runId}"
    }
    val mine = loaded().collect { case (id, p) if id.contains(runId) => p }
    assert(mine.nonEmpty && mine.forall(_.getClass.getName == rocksProvider))
    val dirs = mine.map(localDir)
    assert(dirs.forall(_.isDirectory))
    graft.Bench.hygiene(spark)
    assert(!loaded().keys.exists(_.contains(runId)))
    assert(dirs.forall(!_.exists()))
  }

  test("adaptiveStatePartitions sizes from staged bytes, clamped both ends") {
    val dir = Files.createTempDirectory("adaptive-parts")
    // empty dir → floor of 1, never 0
    assert(EventStreams.adaptiveStatePartitions(spark, dir.toString) == 1)
    // stage the real events file (small) → still the floor at the 32 MiB default
    Files.copy(Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("e.parquet"), StandardCopyOption.REPLACE_EXISTING)
    assert(EventStreams.adaptiveStatePartitions(spark, dir.toString) == 1)
    // shrink bytes-per-partition below the staged size → count grows with
    // bytes; at 1 byte/partition the 4× default-parallelism cap rules
    val key = "graft.stream.bytesPerStatePartition"
    val bytes = Files.size(dir.resolve("e.parquet"))
    try {
      spark.conf.set(key, (bytes / 2 + 1).toString)
      assert(EventStreams.adaptiveStatePartitions(spark, dir.toString) == 2)
      spark.conf.set(key, "1")
      assert(EventStreams.adaptiveStatePartitions(spark, dir.toString) ==
        spark.sparkContext.defaultParallelism * 4)
    } finally spark.conf.unset(key)
  }

  test("withStagedState keeps a small staged replay on the heap provider; larger input goes to RocksDB") {
    import org.apache.spark.sql.streaming.Trigger
    import scala.jdk.CollectionConverters._
    // the staged events are far below 1/16 of the heap: the bracket
    // pins the heap provider (recorded in the offset log) and one state
    // partition, then restores the session's confs
    val stagedBytes = Files.list(Paths.get(stagedDir)).iterator().asScala.map(Files.size).sum
    val ckpt = Files.createTempDirectory("staged_heap").toString
    val confBefore = (spark.conf.get(providerKey), spark.conf.get("spark.sql.shuffle.partitions"))
    val parts = EventStreams.withStagedState(spark, stagedDir) {
      val q = EventStreams.sessionize(staged).toDF().writeStream
        .format("memory").queryName("staged_heap").option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
      EventStreams.awaitBounded(q)
      spark.conf.get("spark.sql.shuffle.partitions")
    }
    assert(recordedProvider(ckpt, 0) == hdfsProvider && parts == "1")
    assert(spark.table("staged_heap").where(col("user_id") =!= -1).count() > 0)
    assert((spark.conf.get(providerKey), spark.conf.get("spark.sql.shuffle.partitions")) == confBefore)
    // the same bytes against a heap 16× their size sit on the threshold;
    // one byte more of input crosses it
    assert(EventStreams.stateProviderFor(stagedBytes) == hdfsProvider)
    assert(EventStreams.stateProviderFor(stagedBytes, heapBytes = 16 * stagedBytes) == hdfsProvider)
    assert(EventStreams.stateProviderFor(stagedBytes + 1, heapBytes = 16 * stagedBytes) == rocksProvider)
  }

  test("withStatePartitions pins the conf inside the body and restores it") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val inside = EventStreams.withStatePartitions(spark, 3) {
      spark.conf.get(key)
    }
    assert(inside == "3" && spark.conf.get(key) == before)
  }
}
