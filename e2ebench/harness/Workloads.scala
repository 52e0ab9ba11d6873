package graft.e2ebench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.E2eBenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.{ColumnUtil, GraftSession, SparkEntry, Tables}
import graft.dedup.Dedup
import graft.sources.Compaction
import graft.streaming.StreamDedup
import graft.text.{Html, TextAnalysis, TokenBlocks}

/** One Spark session with its meter, and the directories a run owns. */
final class Ctx(val spark: SparkSession, val meter: Meter, val slots: Int,
                val raw: String, val work: String) {
  def drain(): Unit = E2eBenchBus.drain(spark.sparkContext)

  /** Counters after every event so far has been delivered. */
  def counters(): Counters = { drain(); meter.snapshot() }

  /** Frees what a finished unit left cached or checkpointed, so the next
    * unit starts from the same storage state.
    */
  def hygiene(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

object Ctx {
  def open(slots: Int, raw: String, work: String): Ctx = {
    val spark = GraftSession.builder("e2ebench", cpus = slots)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      // the status store keeps up to 1000 jobs and executions by default;
      // small caps keep the live heap independent of how many units ran
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    spark.listenerManager.register(meter)
    new Ctx(spark, meter, slots, raw, work)
  }
}

/** A timed span around one call into the program, with the Spark counters
  * of its interval.
  */
final case class Span(layer: String, wallS: Double, d: Counters, rowsOut: Long,
                      extra: Map[String, Double] = Map.empty)

object Fs {
  def rmrf(path: String): Unit = {
    def go(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(go))
      f.delete()
    }
    go(new File(path))
  }

  /** Bytes of the data files (`part-*`) under `path`, recursively. */
  def dataBytes(path: String): Long = {
    def go(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(go).sum).getOrElse(0L)
      else if (f.getName.startsWith("part-")) f.length() else 0L
    go(new File(path))
  }

  def write(path: String, text: String): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.write(Paths.get(path), text.getBytes("UTF-8"))
  }
}

object Tracing {
  /** Runs `body` as one span: the call and the materialisation of its
    * output. `body` returns the output's row count, or -1 to take the
    * rows the span wrote.
    */
  def span(ctx: Ctx, layer: String, spans: mutable.Buffer[Span])(
      body: mutable.Map[String, Double] => Long): Unit = {
    val extra = mutable.Map.empty[String, Double]
    val before = ctx.counters()
    val t0 = System.nanoTime()
    val rows = body(extra)
    val wall = (System.nanoTime() - t0) / 1e9
    val d = ctx.counters() - before
    spans += Span(layer, wall, d, if (rows >= 0) rows else d.outputRecords, extra.toMap)
  }

  def materialise(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist()
    (p, p.count())
  }
}

/** The crawl→curation chain over seeded HTML pages: main text, the signals
  * gate, exact dedup, verified near dedup, decontamination against a
  * held-out eval slice, and token blocks written to parquet.
  */
object Curation {
  def stage(ctx: Ctx): Unit = {
    val s = ctx.spark
    Seq("pages", "eval").foreach { n =>
      s.read.parquet(s"${ctx.raw}/curation/$n.parquet").repartition(ctx.slots)
        .write.mode("overwrite").parquet(s"${ctx.work}/stage/curation/$n.parquet")
    }
  }

  private def stageDf(ctx: Ctx, n: String): DataFrame =
    ctx.spark.read.parquet(s"${ctx.work}/stage/curation/$n.parquet")

  def mainText(pages: DataFrame): DataFrame =
    pages.select(col("doc_id"),
      replace(Html.htmlMainText(col("html")), lit("\n"), lit(" ")).as("text"))

  /** The corpus keep gate (language, length, quality, repetition) over
    * the extracted text, in the registry's q_corpus_filter form.
    */
  def gate(text: DataFrame): DataFrame = {
    val g = ColumnUtil.bindOnce(TextAnalysis.signals(col("text")), sg =>
      struct(
        sg.getField("lang_pred").as("lang_pred"),
        sg.getField("tok_cnt").as("tok_cnt"),
        sg.getField("quality").as("quality"),
        when(sg.getField("lang_pred") === "en" &&
            sg.getField("tok_cnt") >= 30 && sg.getField("quality") >= 0.3,
          TextAnalysis.repetitionRatioScalar(col("text"))).as("rep_ratio")))
    text.select(col("doc_id"), col("text"), ColumnUtil.explodeOnce(g).as("s"))
      .where(col("s.lang_pred") === "en" && col("s.tok_cnt") >= 30 &&
        col("s.quality") >= 0.3 && col("s.rep_ratio") <= 0.2)
      .select("doc_id", "text")
  }

  def blocks(clean: DataFrame): DataFrame =
    TokenBlocks.manifest(TokenBlocks.assign(clean, "doc_id",
        TextAnalysis.tokenCount(col("text")) + 1, blockTokens = 64), 64)
      .select(col("block_id"), col("doc_id"), col("off_in_block"), col("len"))

  /** Decontamination hits in the registry's q_decontam_fuzzy shape. */
  def decontamHits(kept: DataFrame, eval: DataFrame): (DataFrame, () => Unit) =
    Dedup.incrementalNearDupsTracked(kept, eval, threshold = 0.3,
      numPerms = 8, rowsPerBand = 2, shingleN = 3, maxBucket = 1000000)

  /** One pass of the chain; writes the token blocks to `out`. With
    * `check`, each stage's output is also written under `checkDir`.
    */
  def pass(ctx: Ctx, out: String, checkDir: Option[String] = None): Unit = {
    val pages = stageDf(ctx, "pages")
    val gated = gate(mainText(pages))
    val exact = Dedup.exact(gated)
    val survivors = gated.join(exact.select("doc_id"), "doc_id")
    val keep = Dedup.dedupCorpusVerified(survivors, threshold = 0.8)
    val kept = survivors.join(keep.where(col("keep")).select("doc_id"), "doc_id")
    val (hits, release) = decontamHits(kept, stageDf(ctx, "eval"))
    val clean = kept.join(hits.select(col("batch_id").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    blocks(clean).write.mode("overwrite").parquet(out)
    checkDir.foreach { dir =>
      def save(df: DataFrame, n: String): Unit =
        df.write.mode("overwrite").parquet(s"$dir/$n")
      save(mainText(pages).select(col("doc_id"), md5(col("text")).as("main_md5")), "text")
      save(gated.select("doc_id"), "gate")
      save(exact, "exact")
      save(keep, "verified")
      save(hits
        .withColumn("n_matches", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("batch_id")))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("batch_id")
            .orderBy(col("jaccard").desc, col("hist_id"))))
        .where(col("rn") === 1)
        .select(col("batch_id").as("train_id"), col("hist_id").as("eval_id"),
          col("jaccard"), col("n_matches")), "decontam")
    }
    release()
  }

  /** The chain once more, each layer called on its materialised input and
    * its output materialised inside the layer's span.
    */
  def traced(ctx: Ctx, out: String, spans: mutable.Buffer[Span]): Unit = {
    import Tracing._
    val (pages, _) = materialise(stageDf(ctx, "pages"))
    val (eval, _) = materialise(stageDf(ctx, "eval"))
    var text, gated, survivors, verified, kept, clean: DataFrame = null
    span(ctx, "text.html", spans) { _ =>
      val (d, n) = materialise(mainText(pages)); text = d; n
    }
    span(ctx, "text.signals", spans) { _ =>
      val (d, n) = materialise(gate(text)); gated = d; n
    }
    span(ctx, "dedup.exact", spans) { _ =>
      val (d, n) = materialise(gated.join(Dedup.exact(gated).select("doc_id"), "doc_id"))
      survivors = d; n
    }
    span(ctx, "dedup.minhash", spans) { x =>
      val (cands, nc) = materialise(Dedup.minhashCandidates(survivors,
        numPerms = 8, rowsPerBand = 2, shingleN = 3, maxBucket = 1000))
      val (v, nv) = materialise(Dedup.ngramJaccard(survivors, cands, shingleN = 3)
        .where(col("jaccard") >= 0.8).select("doc_a", "doc_b"))
      x("candidates") = nc.toDouble
      x("verified") = nv.toDouble
      verified = v; nv
    }
    span(ctx, "dedup.clusters", spans) { _ =>
      // dedupCorpusVerified's clustering and keep rule, on the verified edges
      val clusters = Dedup.dedupClusters(verified)
      val canonical = clusters.groupBy("cluster").agg(min(col("doc_id")).as("canon"))
      val dropped = clusters.join(canonical, "cluster")
        .where(col("doc_id") =!= col("canon")).select("doc_id")
      val (d, n) = materialise(survivors.join(dropped, Seq("doc_id"), "left_anti"))
      kept = d; n
    }
    span(ctx, "dedup.decontam", spans) { _ =>
      val (hits, release) = decontamHits(kept, eval)
      val (d, n) = materialise(kept.join(hits.select(col("batch_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti"))
      release()
      clean = d; n
    }
    span(ctx, "text.token_blocks", spans) { _ =>
      blocks(clean).write.mode("overwrite").parquet(out); -1L
    }
  }
}

/** Gridmix-shaped relational jobs: the q_monster pipeline to a noop sink,
  * then the q_sort_total global order published as the next version of a
  * versioned table and compacted.
  */
object Warehouse {
  val rankedSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("ship", StringType), StructField("rank", LongType)))

  def stage(ctx: Ctx): Unit = Seq("lineitem", "part").foreach { n =>
    ctx.spark.read.parquet(s"${ctx.raw}/warehouse/$n.parquet").repartition(ctx.slots)
      .write.mode("overwrite").parquet(s"${stageDir(ctx)}/$n.parquet")
  }

  def stageDir(ctx: Ctx): String = s"${ctx.work}/stage/warehouse"

  /** A fresh table root holding an empty committed version 0. */
  def initRoot(ctx: Ctx, root: String): Unit = {
    Fs.rmrf(root)
    Compaction.writeVersioned(
      ctx.spark.createDataFrame(java.util.Collections.emptyList[Row](), rankedSchema), root)
  }

  /** One pass against an initialised `root`. q_monster goes to the noop
    * sink, or to parquet at `monsterOut` for the checks.
    */
  def pass(ctx: Ctx, root: String, monsterOut: Option[String] = None): Unit = {
    val monster = SparkEntry.queries("q_monster")(ctx.spark, stageDir(ctx)).write.mode("overwrite")
    monsterOut match {
      case Some(p) => monster.parquet(p)
      case None => monster.format("noop").save()
    }
    Compaction.publishNext(SparkEntry.queries("q_sort_total")(ctx.spark, stageDir(ctx)), root)
    Compaction.compactVersioned(ctx.spark, root)
  }

  def traced(ctx: Ctx, root: String, spans: mutable.Buffer[Span]): Unit = {
    import Tracing._
    val dir = stageDir(ctx)
    span(ctx, "sources.scan", spans) { x =>
      val before = ctx.counters()
      Seq("lineitem", "part").foreach { n =>
        Tables.load(ctx.spark, dir, n).write.format("noop").mode("overwrite").save()
      }
      // the staged files' bytes: the noop sink decodes every column
      x("input_mb") = Seq("lineitem", "part").map(n => Fs.dataBytes(s"$dir/$n.parquet")).sum / 1e6
      (ctx.counters() - before).inputRecords
    }
    span(ctx, "queries.monster", spans) { _ =>
      materialise(SparkEntry.queries("q_monster")(ctx.spark, dir))._2
    }
    var ranked: DataFrame = null
    span(ctx, "ops.global_rank", spans) { _ =>
      val (d, n) = materialise(SparkEntry.queries("q_sort_total")(ctx.spark, dir))
      ranked = d; n
    }
    initRoot(ctx, root)
    span(ctx, "sources.publish", spans) { x =>
      val v = Compaction.publishNext(ranked, root)
      x("output_mb") = Fs.dataBytes(s"$root/v=$v") / 1e6
      -1L
    }
    span(ctx, "sources.compact", spans) { x =>
      val (in, out) = Compaction.compactVersioned(ctx.spark, root)
      x("files_in") = in.toDouble
      x("files_out") = out.toDouble
      -1L
    }
  }
}

/** One long StreamDedup.frontDoor stream fed one staged crawl file per
  * micro-batch: history first, then equal-sized crawl batches.
  */
object FrontDoor {
  final case class Batch(wallS: Double, d: Counters, p: StreamingQueryProgress)

  def files(ctx: Ctx): Seq[File] =
    Option(new File(s"${ctx.raw}/frontdoor").listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)

  /** Starts a fresh stream under `dir`, feeds `feed` files one micro-batch
    * each, and calls `beforeBatch(i)` before each file is dropped. The
    * stream is left running; the caller stops it.
    */
  def run(ctx: Ctx, dir: String, feed: Seq[File],
          beforeBatch: Int => Unit = _ => ()): (StreamingQuery, Seq[Batch]) = {
    Fs.rmrf(dir)
    val src = s"$dir/src"
    val tmp = s"$dir/tmp"
    Seq(src, tmp).foreach(new File(_).mkdirs())
    val q = StreamDedup.frontDoor(
        ctx.spark.readStream.schema("crawl_id BIGINT, html STRING")
          .option("maxFilesPerTrigger", "1").parquet(src),
        threshold = 0.8, maxBucket = 1000000)
      .writeStream.format("parquet")
      .option("path", s"$dir/sink").option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").trigger(Trigger.ProcessingTime(100L)).start()
    val batches = feed.zipWithIndex.map { case (f, i) =>
      beforeBatch(i)
      val before = ctx.counters()
      val staged = Paths.get(tmp, f.getName)
      Files.copy(f.toPath, staged, StandardCopyOption.REPLACE_EXISTING)
      Files.move(staged, Paths.get(src, f.getName), StandardCopyOption.ATOMIC_MOVE)
      q.processAllAvailable()
      val d = ctx.counters() - before
      val p = q.recentProgress.find(_.batchId == i.toLong)
        .getOrElse(sys.error(s"no progress for micro-batch $i"))
      require(p.numInputRows > 0, s"micro-batch $i read no rows")
      Batch(p.durationMs.get("triggerExecution").toDouble / 1e3, d, p)
    }
    (q, batches)
  }

  def sink(dir: String): String = s"$dir/sink"

  def progressLayers(measured: Seq[Batch]): Map[String, Double] = {
    def med(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) Double.NaN
      else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
    def dur(k: String): Double = med(measured.map(b =>
      Option(b.p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0) / 1e3))
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double): Double =
      med(measured.map(b => b.p.stateOperators.map(f).sum))
    Map(
      "streaming.trigger_s" -> dur("triggerExecution"),
      "streaming.add_batch_s" -> dur("addBatch"),
      "streaming.query_planning_s" -> dur("queryPlanning"),
      "streaming.wal_commit_s" -> dur("walCommit"),
      "streaming.commit_offsets_s" -> dur("commitOffsets"),
      "streaming.latest_offset_s" -> dur("latestOffset"),
      "streaming.state_commit_s" -> state(_.commitTimeMs / 1e3),
      "streaming.state_rows" -> state(_.numRowsTotal.toDouble),
      "streaming.state_mb" -> state(_.memoryUsedBytes / 1e6),
      "streaming.task_cpu_s" -> med(measured.map(_.d.taskCpuS)),
      "streaming.shuffle_mb" -> med(measured.map(_.d.shuffleMb)),
      "streaming.batches" -> measured.length.toDouble)
  }
}
