package graft.e2ebench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.{Queries, SparkEntry}
import graft.text.Html

/** The benchmark's JVM side. Runs one workload in steady state (or, with
  * `--trace 1`, the traced chains of every workload) and writes raw
  * figures as JSON to `--out`; `run.py` turns them into metrics.
  *
  * Arguments (all required): --workload --seconds --trace --slots --raw
  * --work --cycles --warmup --stream-warmup --min-passes --max-passes --out
  */
object Main {
  final case class PassStat(wallS: Double, d: Counters, outputBytes: Long)

  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val slots = a("slots").toInt
    val work = a("work")
    val kernelWarm = Kernel.run(slots) // compiles the kernel before it is timed
    val preKernel = Kernel.run(slots)
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> a("workload"), "slots" -> slots,
      "kernel_warm_s" -> kernelWarm, "kernels_s" -> mutable.ArrayBuffer(preKernel))
    val ctx =
      if (a("trace") == "1") traceAll(a, result)
      else if (a("workload") == "frontdoor_stream") streamRun(a, result)
      else batchRun(a, result)
    writeOracle(s"$work/oracle.json")
    Fs.write(a("out"), json.writeValueAsString(result))
    ctx.spark.stop()
  }

  private def nowS: Double = System.currentTimeMillis() / 1e3

  private def jvmStartS: Double = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3

  private def liveHeapMb(ctx: Ctx): Double = {
    ctx.hygiene()
    // the context cleaner frees broadcasts and shuffles of collected
    // references asynchronously, so collect, let it run, and collect again
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** One pass with fresh output directories. With `checkDir`, the pass
    * also writes the outputs the checks compare, and keeps them.
    */
  private def timedPass(ctx: Ctx, workload: String, n: Int,
                        checkDir: Option[String] = None): PassStat = {
    val out = checkDir.map(d => s"$d/out").getOrElse(s"${ctx.work}/out/p$n")
    if (workload == "warehouse") Warehouse.initRoot(ctx, out)
    val before = ctx.counters()
    val t0 = System.nanoTime()
    if (workload == "curation") Curation.pass(ctx, out, checkDir)
    else Warehouse.pass(ctx, out, checkDir.map(d => s"$d/monster"))
    val wall = (System.nanoTime() - t0) / 1e9
    val d = ctx.counters() - before
    val bytes = Fs.dataBytes(out)
    if (checkDir.isEmpty) Fs.rmrf(out)
    ctx.hygiene()
    PassStat(wall, d, bytes)
  }

  private def stage(ctx: Ctx, workload: String): Unit =
    if (workload == "curation") Curation.stage(ctx) else Warehouse.stage(ctx)

  private def passJson(p: PassStat): Map[String, Any] = Map(
    "wall_s" -> p.wallS, "task_cpu_s" -> p.d.taskCpuS, "shuffle_mb" -> p.d.shuffleMb,
    "output_mb" -> p.outputBytes / 1e6, "jobs" -> p.d.jobs, "tasks" -> p.d.tasks)

  /** Set-up cycles (session, staging, warm-up passes), then measured
    * passes, each after a kernel run.
    */
  private def batchRun(a: Map[String, String], result: mutable.Map[String, Any]): Ctx = {
    val workload = a("workload")
    val kernels = result("kernels_s").asInstanceOf[mutable.ArrayBuffer[Double]]
    val setups = mutable.ArrayBuffer[Double]()
    val warmWalls = mutable.ArrayBuffer[Seq[Double]]()
    var ctx: Ctx = null
    var n = 0
    val checkDir = s"${a("work")}/check/$workload"
    for (c <- 0 until a("cycles").toInt) {
      val start = if (c == 0) jvmStartS else nowS
      if (ctx != null) ctx.spark.stop()
      ctx = Ctx.open(a("slots").toInt, a("raw"), a("work"))
      stage(ctx, workload)
      warmWalls += (0 until a("warmup").toInt).map { w =>
        n += 1
        // the first, cold warm-up pass also writes what the checks read;
        // it is always the slowest cycle, so the median never takes it
        timedPass(ctx, workload, n, if (c == 0 && w == 0) Some(checkDir) else None).wallS
      }
      // the first cycle starts at JVM start; its kernel runs are not set-up
      setups += nowS - start - (if (c == 0) result("kernel_warm_s").asInstanceOf[Double] + kernels.head else 0.0)
    }
    val passes = mutable.ArrayBuffer[PassStat]()
    val t0 = System.nanoTime()
    val (minP, maxP, secs) = (a("min-passes").toInt, a("max-passes").toInt, a("seconds").toDouble)
    while (passes.length < minP ||
        ((System.nanoTime() - t0) / 1e9 < secs && passes.length < maxP)) {
      ctx.drain()
      kernels += Kernel.run(ctx.slots)
      n += 1
      passes += timedPass(ctx, workload, n)
    }
    result ++= Seq("setup_cycles_s" -> setups, "warmup_walls_s" -> warmWalls,
      "passes" -> passes.map(passJson), "check_dirs" -> Map(workload -> checkDir),
      "live_heap_mb" -> liveHeapMb(ctx))
    ctx
  }

  /** Set-up cycles each start a fresh front-door stream and feed it the
    * history and the warm-up batches; the last cycle's stream goes on with
    * the measured batches, each after a kernel run.
    */
  private def streamRun(a: Map[String, String], result: mutable.Map[String, Any]): Ctx = {
    val kernels = result("kernels_s").asInstanceOf[mutable.ArrayBuffer[Double]]
    val warm = 1 + a("stream-warmup").toInt // the history batch, then warm-up crawl batches
    val cycles = a("cycles").toInt
    val setups = mutable.ArrayBuffer[Double]()
    var ctx: Ctx = null
    var batches: Seq[FrontDoor.Batch] = Nil
    var dir = ""
    for (c <- 0 until cycles) {
      val start = if (c == 0) jvmStartS else nowS
      val kernelS = if (c == 0) result("kernel_warm_s").asInstanceOf[Double] + kernels.head else 0.0
      if (ctx != null) ctx.spark.stop()
      ctx = Ctx.open(a("slots").toInt, a("raw"), a("work"))
      val files = FrontDoor.files(ctx)
      require(files.length > warm, s"need more than $warm staged files, found ${files.length}")
      dir = s"${ctx.work}/stream/c$c"
      val last = c == cycles - 1
      val c0 = ctx
      val (q, bs) = FrontDoor.run(ctx, dir, if (last) files else files.take(warm), i => {
        if (i == warm) setups += nowS - start - kernelS
        if (i >= warm) { c0.drain(); kernels += Kernel.run(c0.slots) }
      })
      q.stop()
      if (!last) setups += nowS - start - kernelS
      else batches = bs
    }
    val measured = batches.drop(warm)
    result ++= Seq("setup_cycles_s" -> setups,
      "warmup_walls_s" -> Seq(batches.take(warm).map(_.wallS)),
      "passes" -> measured.map(b => passJson(PassStat(b.wallS, b.d, 0L))),
      "output_mb" -> Fs.dataBytes(FrontDoor.sink(dir)) / 1e6,
      "check_dirs" -> Map("frontdoor_stream" -> FrontDoor.sink(dir)),
      "live_heap_mb" -> liveHeapMb(ctx))
    ctx
  }

  /** One session runs every workload's traced chain after an untraced
    * warm-up, and records an untraced pass just before each traced one,
    * so the tracing overhead can be read off the same run. The first
    * untraced pass and the traced chain of each workload keep their
    * outputs under `check/<workload>` for the checks, and so does the
    * traced stream.
    */
  private def traceAll(a: Map[String, String], result: mutable.Map[String, Any]): Ctx = {
    val ctx = Ctx.open(a("slots").toInt, a("raw"), a("work"))
    val spans = mutable.ArrayBuffer[Span]()
    val untraced = mutable.LinkedHashMap[String, Double]()
    val checkDirs = mutable.LinkedHashMap[String, String]()
    var n = 0
    for (w <- Seq("curation", "warehouse")) {
      val checkDir = s"${a("work")}/check/$w"
      checkDirs(w) = checkDir
      stage(ctx, w)
      (0 to a("warmup").toInt).foreach { i =>
        n += 1
        timedPass(ctx, w, n, if (i == 0) Some(checkDir) else None)
      }
      n += 1
      untraced(w) = timedPass(ctx, w, n).wallS
      val out = s"$checkDir/traced"
      if (w == "curation") Curation.traced(ctx, out, spans)
      else Warehouse.traced(ctx, out, spans)
      ctx.hygiene()
    }
    val warm = 1 + a("stream-warmup").toInt
    val dir = s"${ctx.work}/stream/traced"
    val (q, bs) = FrontDoor.run(ctx, dir, FrontDoor.files(ctx))
    q.stop()
    checkDirs("frontdoor_stream") = FrontDoor.sink(dir)
    val layers = mutable.LinkedHashMap[String, Double]()
    spans.foreach { s =>
      val p = s.layer
      layers ++= Seq(
        s"$p.wall_s" -> s.wallS,
        s"$p.task_cpu_s" -> s.d.taskCpuS,
        s"$p.slot_idle_s" -> math.max(0.0, ctx.slots * s.wallS - s.d.runMs / 1e3),
        s"$p.plan_s" -> s.d.planNs / 1e9,
        s"$p.jobs" -> s.d.jobs.toDouble,
        s"$p.shuffle_mb" -> s.d.shuffleMb,
        s"$p.spill_mb" -> s.d.spill / 1e6,
        s"$p.rows_out" -> s.rowsOut.toDouble)
      s.extra.foreach { case (k, v) => layers(s"$p.$k") = v }
    }
    layers ++= FrontDoor.progressLayers(bs.drop(warm))
    val tracedSum = Seq("curation" -> Seq("text.", "dedup."), "warehouse" -> Seq("sources.", "queries.", "ops."))
      .map { case (w, prefixes) =>
        w -> spans.filter(s => prefixes.exists(s.layer.startsWith)).map(_.wallS).sum
      }.toMap
    result ++= Seq("layers" -> layers, "untraced_wall_s" -> untraced, "check_dirs" -> checkDirs,
      "traced_wall_sum_s" -> tracedSum,
      "spans" -> spans.map(s => Map("layer" -> s.layer, "wall_s" -> s.wallS,
        "task_cpu_s" -> s.d.taskCpuS, "jobs" -> s.d.jobs, "tasks" -> s.d.tasks)),
      "live_heap_mb" -> liveHeapMb(ctx))
    ctx
  }

  /** The DuckDB replays the checks run, taken from the program's registry
    * and its SQL renderers.
    */
  private def writeOracle(path: String): Unit = {
    val o = SparkEntry.oracleSql
    val names = Seq("q_monster", "q_sort_total", "q_token_blocks", "q_dedup_verified",
      "q_decontam_fuzzy", "q_dedup_exact")
    val m = names.map(n => n -> o(n)).toMap ++ Map(
      "main_text" -> Html.mainTextSql("html"),
      "corpus_keep" -> Queries.corpusKeepSql)
    new File(path).getParentFile.mkdirs()
    Fs.write(path, json.writeValueAsString(m))
  }
}
