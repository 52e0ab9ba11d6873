package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Per-round benchmark main. Mirrors the reference's gridmix/MRBench
  * workload shapes (BASELINE.md B1–B6) over the driver testdata at
  * `SPARK_GRAFT_SF_DIR` (sf0.1 in the driver run), plus every
  * correctness-suite query.
  *
  * Every query is executed to completion via a noop sink — `count()`
  * would let Catalyst prune columns and elide sorts, timing a different
  * (smaller) plan than the one users run.
  */
object Bench {

  /** Full-plan execution without a real sink. */
  private[graft] def exec(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private[graft] def time(fn: => Unit): Double = {
    val t0 = System.nanoTime()
    fn
    (System.nanoTime() - t0) / 1e9
  }

  /** Normalized physical-plan string: expression/plan ids stripped and
    * `substring`/`substr` unified (the SQL parser and the Column API render
    * the same expression under different names). Sides that compare equal
    * here run the same physical operators — any timing gap between them is
    * environment, not plans.
    */
  private def normPlan(df: DataFrame): String = df.queryExecution.executedPlan
    .toString.replaceAll("#\\d+L?", "#x").replaceAll("plan_id=\\d+", "plan_id=x")
    .replaceAll("\\bid=#?\\d+\\b", "id=x").replaceAll("substring\\(", "substr(")

  private val planDump = new StringBuilder
  private val planMatches = scala.collection.mutable.LinkedHashMap[String, Boolean]()
  // untimed attribution counters for the scale-trend steps (d1a bucket sizes)
  private val scaleDiag = scala.collection.mutable.LinkedHashMap[String, Long]()

  // ---- band guard (r13 verdict #1). BENCH_r13.json shipped single-run
  // outliers the artifact could not attribute (q_substring_trim_exact
  // 79.0 s vs its 8.5–14.4 s cross-round band; d22 at 21.8x vs 3.6–3.9x)
  // — out-of-band re-measurement showed machine drift, but no consumer
  // of the artifact could re-do that. The guard makes the artifact
  // self-attributing: any suite/d-series reading that exceeds
  // [[BandFactor]]x its committed prior-round band gets ONE more
  // hygiene-separated run, and BOTH readings land in the `out_of_band`
  // artifact field — a drift window shows a confirming in-band second
  // run; a real regression shows two agreeing out-of-band runs.
  // Near-zero cost in a clean run (nothing re-runs).
  //
  // Bands: src/main/resources/graft/bench_bands.json — per-key MEDIANS
  // over the last five committed BENCH_FULL.json artifacts (median is
  // what makes the r13 outliers not poison their own bands), generated
  // by dev/make_bands.py; regenerate after each certified round. Keys
  // absent from the file (new queries) simply skip the guard one round.
  private val BandFactor = 2.0
  private[graft] lazy val bands: Map[String, Double] = try {
    // override path (tests/driver experiments) > classpath > the repo
    // file (class-dir runs where resources were not copied — dev/run.sh
    // after a bare compile)
    val txt = sys.props.get("graft.bench.bands")
      .map(p => new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8"))
      .orElse(Option(getClass.getResourceAsStream("/graft/bench_bands.json"))
        .map { in =>
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        })
      .orElse {
        // class-dir runs where resources were not copied (dev/run.sh after
        // a bare compile): resolve against the working directory first,
        // then the canonical repo path as a last resort
        Seq(new java.io.File(sys.props.getOrElse("user.dir", "."),
              "src/main/resources/graft/bench_bands.json"),
            new java.io.File(
              "/root/repo/src/main/resources/graft/bench_bands.json"))
          .find(_.isFile)
          .map(f => new String(
            java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      }
      .getOrElse("")
    """"([^"]+)"\s*:\s*([0-9.eE+-]+)""".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  } catch { case NonFatal(e) =>
    System.err.println(s"[bench] bands load failed: ${e.getMessage}")
    Map.empty
  }
  /** One out-of-band record: every reading taken (original run(s) plus
    * the confirming re-run when funded), each probe lane's seconds at
    * guard-fire time, and the instantaneous per-lane index derived from
    * it (-1 when no probe / no probe baseline exists).
    */
  private[graft] case class Oob(runs: Seq[Double], probeS: Double,
                                machineIndex: Double,
                                hashProbeS: Double = -1.0,
                                hashIndex: Double = -1.0,
                                writeProbeS: Double = -1.0,
                                writeIndex: Double = -1.0)
  private[graft] val outOfBand =
    scala.collection.mutable.LinkedHashMap[String, Oob]()

  // ---- warm stamps (r15 verdict #3). q_heavy_hitters read 1.71x its
  // band — under the 2x trip, so no guard fire, no probe stamp, and the
  // artifact was silent about why. Every banded reading that lands in
  // [WarmFactor, BandFactor) x band now records the reading, the band
  // and all three probe-lane indexes taken AT that moment — pure
  // evidence, no confirming re-run. Probes cost ~5 s per stamp, so a
  // pathological all-keys-warm window caps at [[MaxWarmProbes]] probed
  // stamps; later warm keys still record reading/band with -1 indexes.
  private val WarmFactor = 1.5
  private val MaxWarmProbes = 12
  private[graft] case class Warm(reading: Double, band: Double,
                                 sortIndex: Double, hashIndex: Double,
                                 writeIndex: Double)
  private[graft] val warmStamps =
    scala.collection.mutable.LinkedHashMap[String, Warm]()

  // ---- run-speed normalizer (r14 verdict #2). A drift window spanning
  // the whole run defeats confirming re-runs taken inside it (r14:
  // q_substring_trim_exact read 49.4 s then 72.2 s against a 12.1 s band
  // while every ratio-vs-control sat at <=1.04 — the machine, not the
  // code). Two channels make that self-attributing IN the artifact:
  //  * machine_index — Σ measured CONTROL seconds / Σ their banded
  //    medians, accumulated as the interleaved plan-pinned hand-SQL
  //    controls run. Controls measure the machine, not library code, so
  //    index ≈ 1.0 on a quiet run and reading/band ≈ index on a
  //    uniformly slow one.
  //  * machine probe — a tiny pinned control (the b6 supplier sort SQL)
  //    re-executed at every band-guard FIRE, so each out_of_band entry
  //    carries the machine's speed at its own measurement instant,
  //    normalized against the probe's committed band (first round: this
  //    run's own start-of-run calibration).
  private var ctlSumMeasured = 0.0
  private var ctlSumBand = 0.0
  // control keys measured this run whose _ctl band is MISSING — they
  // silently thin machine_index's denominator after a control rename,
  // so they go into the `unbanded` artifact field like any other
  // banded-miss (r15 advisor: a no-op here was the one quiet path left)
  private val ctlUnbanded = scala.collection.mutable.LinkedHashSet[String]()
  private[graft] def registerControl(bandKey: String, secs: Double): Unit =
    bands.get(bandKey) match {
      case Some(b) => ctlSumMeasured += secs; ctlSumBand += b
      case None => ctlUnbanded += bandKey
    }
  private def machineIndex: Double =
    if (ctlSumBand > 0) ctlSumMeasured / ctlSumBand else -1.0
  // assigned in main once the control temp views exist; min-of-2 after a
  // burn run, NO hygiene — the probe must sample the environment the
  // guarded reading just ran in, not a freshly-scrubbed one
  private[graft] var machineProbeFn: () => Option[Double] = () => None
  private[graft] var probeCalibration: Option[Double] = None
  private def probeBaseline: Option[Double] =
    bands.get("machine_probe").orElse(probeCalibration)
  // second probe FLAVOR (r15 stage-probe finding): a drift window can
  // slow the md5/minhash codegen lane ~2x while sort-shaped work stays
  // at band (IncrNearProbe: sig passes 11.7→1.3 s across reps in one
  // JVM while the sort probe read 0.5x) — a sort-only probe then reads
  // "machine fast" on a hash-lane fire. The hash probe is md5-bound
  // pinned SQL; its index distinguishes hash-lane slowness (hash_index
  // high, machine_index ~1) from whole-machine slowness (both high).
  private[graft] var hashProbeFn: () => Option[Double] = () => None
  private[graft] var hashProbeCalibration: Option[Double] = None
  private def hashProbeBaseline: Option[Double] =
    bands.get("machine_hash_probe").orElse(hashProbeCalibration)
  // third probe FLAVOR (r15 verdict #1): BENCH_r15's d8_pagerank_10x
  // fired at 2.7–4.4x band while the sort probe read 0.68 (machine FAST)
  // and the hash probe 1.14 — the decision rule's real-regression
  // signature — yet a fresh-JVM re-measure read dead on band. The blind
  // spot: d8's per-iteration cost is checkpoint-block + sink WRITES, a
  // lane neither CPU-sort nor md5-hash work touches. The write probe
  // localCheckpoints and parquet-writes a fixed small table (the
  // PageRank per-iteration shape), so a write/IO window stamps its own
  // index into the evidence instead of masquerading as a regression.
  private[graft] var writeProbeFn: () => Option[Double] = () => None
  private[graft] var writeProbeCalibration: Option[Double] = None
  private def writeProbeBaseline: Option[Double] =
    bands.get("machine_write_probe").orElse(writeProbeCalibration)

  /** All three probe lanes sampled NOW: seconds + index per lane
    * (-1 where a probe or its baseline is unavailable). Decision rule
    * (SCALING.md): reading/band ≈ any ONE index → that lane's machine
    * window; all indexes ≈ 1 with agreeing runs → real regression.
    */
  private final case class ProbeStamp(sortS: Double, sortIdx: Double,
                                      hashS: Double, hashIdx: Double,
                                      writeS: Double, writeIdx: Double)
  private def stampProbes(): ProbeStamp = {
    def one(fn: () => Option[Double],
            base: => Option[Double]): (Double, Double) = {
      val p = fn()
      (p.getOrElse(-1.0),
        (for { v <- p; b <- base } yield v / math.max(b, 1e-9))
          .getOrElse(-1.0))
    }
    val (s, si) = one(machineProbeFn, probeBaseline)
    val (h, hi) = one(hashProbeFn, hashProbeBaseline)
    val (w, wi) = one(writeProbeFn, writeProbeBaseline)
    ProbeStamp(s, si, h, hi, w, wi)
  }

  /** Apply the band guard to a completed measurement: returns the final
    * reading (min over all runs incl. the confirming one) and records
    * out-of-band evidence — stamped with all three probe lanes taken at
    * fire time (r14 verdict #2, r15 verdict #1). `rerun` must be
    * hygiene-separated and return None on failure or when the remaining
    * budget cannot fund it (the original reading then stands, still
    * flagged out_of_band). Readings in the 1.5–2x warm zone stamp probe
    * evidence without a re-run (r15 verdict #3).
    */
  private[graft] def bandGuarded(key: String, runs: Seq[Double],
                                 rerun: () => Option[Double]): Double = {
    val best = runs.min
    bands.get(key) match {
      case Some(b) if best > b * BandFactor =>
        val p = stampProbes()
        (if (remainingS >= best * 1.5 + 30) rerun() else None) match {
          case Some(again) =>
            outOfBand(key) = Oob(runs :+ again, p.sortS, p.sortIdx,
              p.hashS, p.hashIdx, p.writeS, p.writeIdx)
            math.min(best, again)
          case None =>
            outOfBand(key) = Oob(runs, p.sortS, p.sortIdx,
              p.hashS, p.hashIdx, p.writeS, p.writeIdx)
            best
        }
      case Some(b) if best > b * WarmFactor =>
        if (warmStamps.size < MaxWarmProbes) {
          val p = stampProbes()
          warmStamps(key) = Warm(best, b, p.sortIdx, p.hashIdx, p.writeIdx)
        } else warmStamps(key) = Warm(best, b, -1.0, -1.0, -1.0)
        best
      case _ => best
    }
  }

  // ---- wall-clock budget. The driver kills the bench process on a hard
  // timeout (BENCH_r12.json was rc=124 with nothing parseable), so this
  // run (a) emits a valid summary artifact EARLY and re-emits it as
  // stages complete, and (b) tracks a soft budget: a step the remaining
  // budget can't fund is skipped into the explicit `skipped` list —
  // never silently — and the artifact stays honest about what didn't
  // run. The default sits well under the observed driver timeout
  // (r11's full run: 3535 s, barely alive).
  private val benchT0 = System.nanoTime()
  private def elapsedS: Double = (System.nanoTime() - benchT0) / 1e9
  private lazy val budgetS: Double =
    sys.env.getOrElse("BENCH_BUDGET_S", "2700").toDouble
  private def remainingS: Double = budgetS - elapsedS
  private val skipped = scala.collection.mutable.LinkedHashSet[String]()

  // ---- suite-tail rotation (r14 verdict #4). 282 timed suite keys ×
  // min-of-2 + hygiene left zero headroom against the 2700 s budget on a
  // slow machine — and correctness already lives in Verify, so the bench
  // needn't re-time every sub-second key every round. Keys whose
  // committed band sits under [[RotateBelowS]] (the jitter-dominated
  // tail — none of them can carry a meaningful regression signal alone)
  // rotate: half time on even driver rounds, half on odd, split by a
  // stable name hash. Headliners, the d-series, the stream family (the
  // documented drift-window detector) and every key ≥1 s always run, as
  // does any key with no band yet (new queries must earn one). Rotated
  // keys land in the explicit `rotated` artifact field — never silently
  // absent — and dev/make_bands.py carries their bands forward from the
  // rounds they did run.
  private val RotateBelowS = 1.0
  private[graft] lazy val rotationParity: Option[Int] =
    sys.env.get("BENCH_ROTATION") match {
      case Some("off") => None // rotation disabled: time every key
      case Some(v) if v == "0" || v == "1" => Some(v.toInt)
      case _ =>
        // self-contained per-round flip keyed on the CURRENT round
        // number: BENCH_ROUND when the environment exports it, else
        // max id over committed BENCH_r{N}.json + 1 (this round's id).
        // Max, not count (r15 advisor): counting files freezes or flips
        // the parity when a round's artifact is missing or a stray file
        // matches — the max id is robust to gaps and strays below it.
        // No round artifacts visible (non-repo checkout) → rotation
        // off, time everything.
        sys.env.get("BENCH_ROUND").flatMap(_.toIntOption).map(_ % 2)
          .orElse {
            val pat = "BENCH_r(\\d+)\\.json".r
            Seq(new java.io.File(sys.props.getOrElse("user.dir", ".")),
                new java.io.File("/root/repo"))
              .iterator
              .map(d => Option(d.list()).getOrElse(Array.empty[String])
                .collect { case pat(n) => n.toInt })
              .find(_.nonEmpty).map(ids => (ids.max + 1) % 2)
          }
    }
  private[graft] def rotatedOut(name: String): Boolean =
    rotationParity.exists { p =>
      !name.startsWith("q_stream") &&
        bands.get(name).exists(_ < RotateBelowS) &&
        math.abs(name.hashCode % 2) != p
    }
  private val rotated = scala.collection.mutable.LinkedHashSet[String]()

  /** True when `need` more seconds still fit the budget; else records
    * the skip under `what` and returns false.
    */
  private def budgetOk(what: String, need: Double): Boolean =
    if (remainingS >= need) true else { skipped += what; false }

  /** Record + dump whether ours/control plan identically (per scale tag). */
  private def checkPlanMatch(tag: String, ours: DataFrame, ctl: DataFrame): Unit =
    try {
      val (op, cp) = (normPlan(ours), normPlan(ctl))
      planMatches(tag) = op == cp
      planDump.append(s"== $tag OURS ==\n$op\n== $tag CONTROL ==\n$cp\n")
        .append(s"== MATCH: ${op == cp} ==\n\n")
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] plan-match $tag failed: ${e.getMessage}")
    }

  /** ABBA-interleaved ours/control measurement. Protocol, in order:
    *
    *  1. `hygiene` — clean slate (cache, stray RDDs, scratch dirs, GC).
    *  2. A BURN pair, one uncounted run per side: the first slot after
    *     hygiene pays JIT/page-cache/GC settling (PairProbe measured up to
    *     2.7x on slot 1) — with ctl always in slot 1, min-of-2 handed the
    *     control a clean-slot advantage "ours" never saw.
    *  3. One ABBA pass (ctl,ours,ours,ctl), min-of-2 per side; sub-2s
    *     pairs get a second pass (jitter-dominated at min-of-2).
    *  4. Adaptive retries: a ratio outside [1/1.5, 1.5] on plan-identical
    *     sides is JVM-state drift (r4: b3 read 3.75x mid-suite, 0.97x in a
    *     fresh JVM), so run up to 2 more ABBA passes. Mins only decrease —
    *     retries cannot fabricate a fast side, they only give both sides
    *     equal chances at a clean slot; a genuine plan regression survives
    *     every retry and is reported as-is.
    */
  private def measurePair(spark: SparkSession, name: String,
                          ours: DataFrame, ctl: DataFrame,
                          times: scala.collection.mutable.Map[String, Double],
                          ctlTimes: scala.collection.mutable.Map[String, Double],
                          ctlBandKey: Option[String] = None): Unit =
    try {
      if (!budgetOk(name, 120)) return
      hygiene(spark)
      exec(ctl); exec(ours) // burn pair — see scaladoc
      val cs = scala.collection.mutable.ArrayBuffer[Double]()
      val os = scala.collection.mutable.ArrayBuffer[Double]()
      def abba(): Unit = {
        cs += time(exec(ctl)); os += time(exec(ours))
        os += time(exec(ours)); cs += time(exec(ctl))
      }
      abba()
      if (math.min(cs.min, os.min) < 2.0) abba()
      var extra = 0
      while (extra < 2 && {
        val r = os.min / math.max(cs.min, 1e-9); r > 1.5 || r < 0.667
      }) { abba(); extra += 1 }
      times(name) = os.min
      ctlTimes(name) = cs.min
      // feed the run-speed normalizer: the control side is plan-pinned
      // hand-SQL, so measured/band over controls indexes the MACHINE
      ctlBandKey.foreach(registerControl(_, cs.min))
    } catch { case NonFatal(e) =>
      // a pair failure degrades the report (missing entry), never aborts
      // the run — the 80+ suite timings already taken must survive.
      // Fatal VM errors (OOM, StackOverflow) are NOT swallowed: numbers
      // measured after an OOM are untrustworthy, so the run must die.
      System.err.println(s"[bench] pair $name failed: ${e.getMessage}")
    }

  /** Per-query state hygiene. Round 3's suite timings degraded 3–30x on
    * identical code+data because state accumulated across the 76-query
    * loop: leaked checkpoint blocks pinned executor storage and the
    * round-trip queries' tmp writes evicted page cache. Every query now
    * starts from a clean slate: Spark cache cleared, stray persisted RDDs
    * dropped, round-trip scratch dirs deleted.
    */
  private[graft] def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    // Unload state-store providers left by finished streaming queries.
    // Each micro-batch run loads stateful-operator-count × 32 partitions
    // of providers that outlive the query (StreamAgeProbe: 128/run,
    // ~640 before Spark's reaper catches up), and their maintenance
    // task keeps snapshotting/cleaning against checkpoint dirs this
    // hygiene has already deleted — measured at +3–6 s on every later
    // q_stream_* reading (attribution: 10.8–14.5 s accumulated vs
    // 7.9–8.6 s unloaded — the r12 suite-loop stream inflation).
    // With the RocksDB provider each unloaded provider is closed, which
    // closes its native RocksDB instance and deletes its local working
    // copy. No active query runs during hygiene, so unloading is safe;
    // the method is private[sql] at the Scala level only, hence
    // reflection.
    unloadStateStores()
    // this JVM's ExtraQueries round-trip scratch ONLY — deleting the
    // shared root would yank a concurrent process's staging mid-write
    rmrf(new java.io.File(ExtraQueries.scratchRoot))
    // ContextCleaner reaps broadcast blocks and shuffle files only when the
    // JVM GC collects their driver-side handles — after ~80 queries the
    // uncollected debt (pinned broadcasts, shuffle dirs) is the r3/r4
    // environment drift. Force the collection so cleanup actually runs.
    System.gc()
    Thread.sleep(50) // let the async cleanup queue drain a little
  }

  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  /** `StateStore.unloadAll()` via reflection — see the hygiene note.
    * It removes every loaded provider and calls its `close()`.
    */
  private def unloadStateStores(): Unit = try {
    val cls = Class.forName(
      "org.apache.spark.sql.execution.streaming.state.StateStore$")
    cls.getMethod("unloadAll").invoke(cls.getField("MODULE$").get(null))
  } catch { case NonFatal(e) =>
    System.err.println(s"[bench] state-store unload failed: ${e.getMessage}")
  }

  /** Guard for plan CONSTRUCTION (load/analysis): one broken table or
    * query must cost its own bench line, never the whole artifact —
    * r8's events schema drift zeroed every number by throwing in
    * warm-up, which is exactly the failure mode this closes.
    */
  private def guarded[A](what: String)(mk: => A): Option[A] =
    try Some(mk) catch { case NonFatal(e) =>
      System.err.println(s"[bench] $what failed to build: ${e.getMessage}")
      None
    }

  /** Gridmix-shaped headline benches (BASELINE.md table). */
  def headline(s: SparkSession, dir: String): Seq[(String, DataFrame)] = {
    lazy val li = Tables.load(s, dir, "lineitem")
    lazy val ev = Tables.load(s, dir, "events")
    lazy val docs = Tables.load(s, dir, "documents")
    Seq[(String, () => DataFrame)](
      // B1 monsterQuery: 3-stage keep-ratio pipeline
      "b1_monster" -> (() => Queries.queries("q_monster")(s, dir)),
      // B2 full sort by composite key (the reference's large passthrough sort)
      "b2_full_sort" -> (() => li.orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))),
      // B3 reference select: ~0.2% filter, single output partition
      "b3_ref_select" -> (() => li
        .where(substring(md5(concat_ws("|", col("l_orderkey"), col("l_linenumber"))), 1, 2)
          .isin("00")) // 1/256 ≈ 0.4%
        .coalesce(1)),
      // B4 text sort: sort of text-rendered events
      "b4_text_sort" -> (() => ev
        .select(concat_ws("\t", col("event_id"), col("event_type"),
          col("user_id"), col("value")).as("line"))
        .orderBy("line")),
      // B5 combiner wordcount (map-side partial agg = the combiner)
      "b5_wordcount" -> (() => docs
        .select(explode(split(col("text"), "\\s+")).as("w"))
        .where(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("cnt"))),
    ).flatMap { case (n, mk) => guarded(n)(mk()).map(n -> _) }
  }

  /** Hand-written "native Spark SQL" controls for the headline benches —
    * BASELINE.md's pass criterion is ≤2x these. Registered temp views,
    * plain SQL text, no library code.
    */
  def controls(s: SparkSession, dir: String): Seq[(String, DataFrame)] = {
    Tables.names.foreach { n =>
      guarded(s"view $n")(
        Tables.load(s, dir, n).createOrReplaceTempView(n))
    }
    Seq[(String, () => DataFrame)](
      "b1_monster" -> (() => s.sql("""
        WITH s1 AS (
          SELECT l_partkey, sum(CAST(l_quantity AS BIGINT)) AS qty,
                 sum(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS rev_cents
          FROM lineitem
          WHERE substr(md5(CAST(l_orderkey*8 + l_linenumber AS STRING)), 1, 1) IN ('0','1')
          GROUP BY 1),
        s2 AS (
          SELECT p_brand, sum(rev_cents) AS revenue_cents, count(1) AS nparts
          FROM s1 JOIN part ON l_partkey = p_partkey GROUP BY 1)
        SELECT * FROM s2 ORDER BY revenue_cents DESC, p_brand LIMIT 10""")),
      "b2_full_sort" -> (() => s.sql(
        "SELECT * FROM lineitem ORDER BY l_shipdate, l_orderkey, l_linenumber")),
      "b3_ref_select" -> (() => s.sql("""
        SELECT * FROM lineitem
        WHERE substr(md5(concat_ws('|', l_orderkey, l_linenumber)), 1, 2) = '00'""")
        .coalesce(1)),
      "b4_text_sort" -> (() => s.sql("""
        SELECT concat_ws('\t', event_id, event_type, user_id, value) AS line
        FROM events ORDER BY line""")),
      "b5_wordcount" -> (() => s.sql("""
        SELECT w, count(1) AS cnt FROM (
          SELECT explode(split(text, '\\s+')) AS w FROM documents)
        WHERE length(w) > 0 GROUP BY 1""")),
    ).flatMap { case (n, mk) => guarded(s"${n}_control")(mk()).map(n -> _) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder("graft-bench", cpus.toInt)
      .config("spark.sql.shuffle.partitions", cpus)
      // plan strings truncate field lists at 100 chars by default; the
      // substring->substr normalization shifts where the "..." cut lands,
      // so plan_match would false-negative on truncation position alone.
      // Render plans in full — this config only affects explain strings.
      .config("spark.sql.maxMetadataStringLength", "100000")
      .getOrCreate()
    // ERROR, not WARN: the driver keeps only a TAIL of the combined
    // output — local-checkpoint WARN spam printed after a summary line
    // would push it out of the captured window on a timeout
    spark.sparkContext.setLogLevel("ERROR")

    // warm-up: JIT + codegen + broadcast machinery + FS metadata + page
    // cache for the big tables, not counted (otherwise whichever variant
    // runs first pays session init and the cold file read)
    guarded("warmup join")(exec(Tables.load(spark, sfDir, "supplier")
      .join(org.apache.spark.sql.functions.broadcast(
        Tables.load(spark, sfDir, "nation")),
        org.apache.spark.sql.functions.col("s_nationkey") ===
          org.apache.spark.sql.functions.col("n_nationkey"))
      .groupBy("n_name").count()))
    Seq("lineitem", "orders", "customer", "part", "events", "documents",
      "embeddings").foreach(t =>
        guarded(s"warmup $t")(exec(Tables.load(spark, sfDir, t))))

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    val controlTimes = scala.collection.mutable.LinkedHashMap[String, Double]()
    val streamEarly = scala.collection.mutable.LinkedHashMap[String, Double]()
    val failed = scala.collection.mutable.ArrayBuffer[String]()
    val scaleTimes = scala.collection.mutable.LinkedHashMap[String, Double]()
    val scaleCtl = scala.collection.mutable.LinkedHashMap[String, Double]()
    val twinTimes = scala.collection.mutable.LinkedHashMap[String, Double]()
    val twinCtl = scala.collection.mutable.LinkedHashMap[String, Double]()
    var b5PlanMatch: Option[Boolean] = None
    var suiteAttempted = false

    def jmap(m: scala.collection.Map[String, Double]): String =
      m.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")

    // Emit the artifact pair from whatever state exists RIGHT NOW.
    // Called after the headline pass (so a mid-suite timeout still
    // leaves a valid, parseable, honest artifact), after the suite+twin,
    // and finally after the scale step. `run_stage`/`suite_incomplete`
    // mark how far the run got; `skipped` lists every budget-skipped
    // step explicitly.
    def emit(stage: String, printFull: Boolean, printSummary: Boolean): Unit = {
      val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
      val ratios = controlTimes.toSeq.sortBy(_._1)
        .map { case (k, v) =>
          "\"" + k + "\":" + f"${results.getOrElse(k, -1.0) / math.max(v, 1e-9)}%.2f" }
        .mkString("{", ",", "}")
      val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
      val skippedJson = skipped.toSeq.map("\"" + _ + "\"").mkString("[", ",", "]")
      val total = results.values.sum
      // artifact-completeness gate: every registry query must appear in
      // this run's own results, failed, or (budget-)skipped list — the
      // r8 failure mode was a suite that silently shrank. Meaningless
      // before the suite loop starts, so [] at the headline stage.
      val missingFromSuite =
        if (!suiteAttempted) Seq.empty[String]
        else (Queries.queries.keySet -- results.keySet -- failed.toSet
          -- skipped.toSet -- rotated.toSet).toSeq.sorted
      val missingJson = missingFromSuite.map("\"" + _ + "\"").mkString("[", ",", "]")
      val pm = planMatches.toSeq
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      val diag = scaleDiag.toSeq
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      // q_monster is the END-of-suite PAIR-protocol reading (same
      // protocol as b1_monster) — a pure start-vs-end drift thermometer.
      // An ABSENT reading is UNKNOWN, not perfect (r12 advisor): spread
      // reads -1 and the run stays `contaminated` until both exist.
      val twinSpreadOpt = for {
        a <- twinTimes.get("q_monster_twin"); b <- results.get("b1_monster")
      } yield math.abs(a - b) / math.max(math.min(a, b), 1e-9)
      val twinSpread = twinSpreadOpt.getOrElse(-1.0)
      val contaminated = twinSpreadOpt.map(_ > 3.0).getOrElse(true)
      val twin = s"""{"q_monster":${twinTimes.getOrElse("q_monster_twin", -1.0)},"b1_monster":${results.getOrElse("b1_monster", -1.0)},"spread":${f"$twinSpread%.2f"}}"""
      val b5pm = b5PlanMatch.map(_.toString).getOrElse("null")
      val incomplete = stage != "complete"
      // out_of_band: key → {runs, probe_s, machine_index}. `runs` is ALL
      // readings (the original run(s) plus the confirming re-run when the
      // budget funded one); `probe_s`/`machine_index` stamp the machine's
      // speed AT the guard fire via the pinned control probe (index ≈
      // reading/band on a uniformly slow window — the r14 failure mode a
      // confirming run inside the window cannot attribute). Empty in a
      // clean run. Last run back in band OR index ≈ reading/band = drift
      // window, attributed; runs agreeing out of band at index ≈ 1.0 =
      // investigate as a real regression against bench_bands.json.
      val oob = outOfBand.toSeq.map { case (k, e) =>
        "\"" + k + "\":{\"runs\":" +
          e.runs.map(v => f"$v%.3f").mkString("[", ",", "]") +
          f""","probe_s":${e.probeS}%.3f,"machine_index":${e.machineIndex}%.2f""" +
          f""","hash_probe_s":${e.hashProbeS}%.3f,"hash_index":${e.hashIndex}%.2f""" +
          f""","write_probe_s":${e.writeProbeS}%.3f,"write_index":${e.writeIndex}%.2f}"""
      }.mkString("{", ",", "}")
      // warm evidence: banded readings in [1.5x, 2x) band — no fire, no
      // re-run, just the three lane indexes at that instant (r15 #3)
      val warmJson = warmStamps.toSeq.map { case (k, w) =>
        "\"" + k + "\":{" +
          f""""reading":${w.reading}%.3f,"band":${w.band}%.3f""" +
          f""","ratio":${w.reading / math.max(w.band, 1e-9)}%.2f""" +
          f""","sort_index":${w.sortIndex}%.2f,"hash_index":${w.hashIndex}%.2f""" +
          f""","write_index":${w.writeIndex}%.2f}"""
      }.mkString("{", ",", "}")
      val rotatedJson = rotated.toSeq.map("\"" + _ + "\"").mkString("[", ",", "]")
      // keys timed this run that have no committed band (the guard
      // silently skipped them — r14 proved that needs to be LOUD);
      // since r16 the banded-miss CONTROL keys too (machine_index's
      // denominator thins silently without them)
      val unbanded = (results.keySet
        ++ scaleTimes.keys.map(_ + "_10x") ++ scaleCtl.keys.map(_ + "_1x")
        ++ ctlUnbanded)
        .filterNot(bands.contains).toSeq.sorted
      val unbandedJson = unbanded.map("\"" + _ + "\"").mkString("[", ",", "]")
      val mprobe = probeCalibration.map(p => f"$p%.3f").getOrElse("-1")
      val hprobe = hashProbeCalibration.map(p => f"$p%.3f").getOrElse("-1")
      val wprobe = writeProbeCalibration.map(p => f"$p%.3f").getOrElse("-1")
      def tailFields(rotatedField: String) = s""""controls":${jmap(controlTimes)},"ratio_vs_control":$ratios,"plan_match":$pm,"b5_plan_match_10x":$b5pm,"twin_check":$twin,"contaminated":$contaminated,"missing_from_suite":$missingJson,"skipped":$skippedJson,$rotatedField,"unbanded":$unbandedJson,"stream_early":${jmap(streamEarly)},"out_of_band":$oob,"warm":$warmJson,"machine_index":${f"$machineIndex%.2f"},"machine_probe_s":$mprobe,"machine_hash_probe_s":$hprobe,"machine_write_probe_s":$wprobe,"run_stage":"$stage","suite_incomplete":$incomplete,"budget_s":$budgetS,"elapsed_s":${f"$elapsedS%.1f"}"""
      // field order matters: the round artifact keeps only a TAIL of
      // stdout, so the big maps (per-query timings, 10x scale maps, diag
      // counters) go FIRST and every summary number cited by the judge
      // goes LAST — they survive truncation.
      val json = s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","queries":$qs,"scale10x":${jmap(scaleTimes)},"scale10x_controls":${jmap(scaleCtl)},"scale10x_diag":$diag,"failed":$failedJson,${tailFields(s""""rotated":$rotatedJson""")}}"""
      // compact summary (≤2 KB): fully self-contained valid JSON with
      // only the headline timings in `queries`, printed as its own
      // stdout line so a tail capture of any length parses it.
      // r17 (r16 verdict #8/#9): the 10x headline pairs ride the
      // summary's `queries` map under `_10x` keys — at sf0.1 the 1x
      // keys sit at the per-query session floor, so the driver's
      // 8-vs-32-cpu scaling block needs the 10x points to be
      // informative (ADDED keys only; `value` stays the suite total of
      // `results`) — and the 87-key rotated list stays in
      // BENCH_FULL.json with only its COUNT in this tail line (the r15
      // truncation lost a round's geomean to tail size).
      val headlineQs = results.filter { case (k, _) => k.startsWith("b") } ++
        scaleTimes.collect { case (k, v) if k.startsWith("b") => s"${k}_10x" -> v }
      val summary = s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","queries":${jmap(headlineQs)},"failed":$failedJson,${tailFields(s""""rotated_n":${rotated.size}""")},"full_artifact":"BENCH_FULL.json","summary_artifact":"BENCH_SUMMARY.json"}"""
      try {
        val w = new java.io.PrintWriter("/root/repo/BENCH_FULL.json")
        try w.println(json) finally w.close()
      } catch { case NonFatal(_) => () } // repo may be elsewhere; stdout is canonical
      try {
        // the compact summary ALSO lands as a file: pure JSON, no log
        // framing, for parsers the stdout tail defeats
        val w = new java.io.PrintWriter("/root/repo/BENCH_SUMMARY.json")
        try w.println(summary) finally w.close()
      } catch { case NonFatal(_) => () }
      try {
        val w = new java.io.PrintWriter("/root/repo/BENCH_PLANS.txt")
        try w.print(planDump.toString) finally w.close()
      } catch { case NonFatal(_) => () }
      if (printFull) println(json)
      if (printSummary) println(summary)
      System.out.flush()
    }

    // headline benches timed INTERLEAVED with their native-SQL controls
    // via measurePair (burn pair + symmetric ABBA + adaptive retries — see
    // its scaladoc for why each piece exists), with a plan-identity check
    // per pair: a reported ratio on matching plans measures environment
    // spread, and the retries bound it
    val ctl = controls(spark, sfDir).toMap
    // machine probe: the cheapest plan-pinned hand-SQL control (the b6
    // supplier sort), re-executed at every band-guard fire so each
    // out_of_band entry records the machine's speed at its own instant.
    // One burn + min-of-2, no hygiene (see the normalizer scaladoc).
    machineProbeFn = () => try {
      val p = spark.sql("SELECT * FROM supplier ORDER BY s_name")
      exec(p)
      Some(math.min(time(exec(p)), time(exec(p))))
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] machine probe failed: ${e.getMessage}")
      None
    }
    hashProbeFn = () => try {
      // md5-bound pinned SQL — the hash-lane thermometer (see the
      // hashProbeFn scaladoc); one burn + min-of-2, no hygiene
      val p = spark.sql("""SELECT count(DISTINCT md5(concat_ws('|',
        l_orderkey, l_linenumber, l_partkey))) AS n FROM lineitem""")
      exec(p)
      Some(math.min(time(exec(p)), time(exec(p))))
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] hash probe failed: ${e.getMessage}")
      None
    }
    // write-lane thermometer (r15 verdict #1): localCheckpoint + parquet
    // write of a fixed 1.5M-row table — the PageRank per-iteration cost
    // shape (checkpoint blocks + FS bytes), with the column work kept
    // trivially cheap (no md5, no sort) so the reading is write-bound.
    // One burn + min-of-2, no hygiene, like the other two lanes.
    val wprobePath = sys.props.getOrElse("java.io.tmpdir", "/tmp") +
      s"/graft_wprobe_${ProcessHandle.current().pid()}"
    writeProbeFn = () => try {
      val df = spark.range(0, 1500000, 1, 8)
        .select(col("id"), pmod(col("id") * 2654435761L, lit(1000003L)).as("k"),
          concat(lit("graft-write-probe-value-"), col("id")).as("s"))
      def once(): Double = time {
        val t = graft.ops.Checkpoints.truncateTracked(df)
        try t.df.write.mode("overwrite").parquet(wprobePath)
        finally t.release()
      }
      once() // burn
      Some(math.min(once(), once()))
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] write probe failed: ${e.getMessage}")
      None
    }
    // start-of-run calibration: each probe's in-run baseline until its
    // committed band exists (first round), and the artifact's own record
    // of what "quiet" meant for this run
    probeCalibration = machineProbeFn()
    hashProbeCalibration = hashProbeFn()
    writeProbeCalibration = writeProbeFn()

    headline(spark, sfDir).foreach { case (name, df) =>
      ctl.get(name) match {
        case Some(c) =>
          checkPlanMatch(s"${name}_1x", df, c)
          measurePair(spark, name, df, c, results, controlTimes,
            ctlBandKey = Some(s"${name}_ctl"))
        case None =>
          results(name) = Seq(time(exec(df)), time(exec(df))).min
      }
    }
    // B6 MRBench analog: repeated small sort, avg latency over 5 runs,
    // paired with a native-SQL control (BASELINE.md's criterion is ≤2x a
    // native control for EVERY bench) — order alternates per rep so
    // neither side systematically inherits the cleaner slot, and the
    // plan-identity bit certifies any gap as environment, not plans
    guarded("b6_mrbench") {
      val nat = Tables.load(spark, sfDir, "supplier")
      val b6ours = nat.orderBy("s_name")
      val b6ctl = spark.sql("SELECT * FROM supplier ORDER BY s_name")
      checkPlanMatch("b6_mrbench_1x", b6ours, b6ctl)
      hygiene(spark)
      exec(b6ctl); exec(b6ours) // burn pair — same rationale as measurePair
      var b6o = 0.0; var b6c = 0.0
      (0 until 5).foreach { i =>
        if (i % 2 == 0) { b6c += time(exec(b6ctl)); b6o += time(exec(b6ours)) }
        else { b6o += time(exec(b6ours)); b6c += time(exec(b6ctl)) }
      }
      results("b6_mrbench_avg") = b6o / 5
      controlTimes("b6_mrbench_avg") = b6c / 5
      registerControl("b6_mrbench_avg_ctl", b6c / 5)
    }

    // r12 watch: the q_stream_* family read 1.3–2x its r11 absolutes in
    // the LATE suite loop of every r12 run while fresh-JVM re-reads
    // landed in band. Measure the two worst HERE — early JVM, the same
    // min-of-2 + hygiene protocol as the suite loop — so every artifact
    // carries its own early-vs-late stream pair (`stream_early` vs the
    // suite-loop entries in `queries`) and an inflation is attributed to
    // JVM age per run instead of suspected across rounds.
    Seq("q_stream_attribution", "q_stream_join_outer").foreach { name =>
      Queries.queries.get(name).foreach { fn =>
        try {
          hygiene(spark)
          streamEarly(name) = math.min(
            time(exec(fn(spark, sfDir))), time(exec(fn(spark, sfDir))))
        } catch { case NonFatal(e) =>
          System.err.println(s"[bench] stream-early $name failed: ${e.getMessage}")
        }
      }
    }

    // EARLY artifact: headline ratios + plan bits are certified; a
    // timeout anywhere past this point still leaves this valid artifact
    // (marked suite_incomplete, twin unknown → contaminated)
    emit("headline", printFull = false, printSummary = true)

    // d-series BEFORE the suite loop (r14 verdict #1): the driver's r14
    // run blew the 2700 s budget inside the 282-key suite loop and
    // skipped 29 trend keys, leaving the official channel without a full
    // d-series sweep since r12. The trend points are the uncompressible
    // scale certification; the suite tail is individually cheap,
    // band-guarded and rotatable — so it, not the d-series, now absorbs
    // a slow machine window.
    b5PlanMatch = Some(runScaleStep(spark, sfDir, scaleTimes, scaleCtl))
    emit("scale", printFull = false, printSummary = false)

    // full correctness-suite queries (operator coverage under timing) —
    // min-of-2 for short queries; a single run for ≥5 s readings (the
    // round-over-round drift the extra run bounds lives in the SHORT
    // denominators — r12's budget post-mortem trades the second long
    // run for finishing inside the driver's timeout). A failed query is
    // recorded in `failed`, NOT as a (misleadingly short) fail-fast
    // elapsed time; a budget-skipped one lands in `skipped`; a
    // rotated-out sub-second tail key lands in `rotated` (see the
    // rotation scaladoc) without being timed at all.
    suiteAttempted = true
    // ---- adaptive rotation (r15 verdict #4). The r15 driver window
    // skipped 30 banded suite-tail keys when the budget ran out: the
    // budget governor sheds from the alphabetical TAIL — whatever sorts
    // last, regardless of cost or signal. Shed DELIBERATELY instead:
    // project the remaining suite cost from each pending key's committed
    // band x the live machine_index, and when the projection no longer
    // fits the remaining budget (after the twin + artifact reserve),
    // rotate out pending sub-[[AdaptiveRotateBelowS]] keys CHEAPEST
    // FIRST — r16 run 3 showed encounter-order shedding dropping
    // q_dedup_incr_near (a 2 s signal-bearing key with a
    // freshly-protected band) before forty 0.3 s tail keys, exactly the
    // wrong coverage spend. Bands carry forward for shed keys like
    // parity-rotated ones. Stream keys (the documented drift detector)
    // and unbanded keys (rows still earning a band) are never shed;
    // keys the shedding cannot cover still hit the honest `skipped`
    // governor. Disabled with rotation (BENCH_ROTATION=off).
    val AdaptiveRotateBelowS = 3.0
    val suiteSeq = Queries.queries.toSeq.sortBy(_._1)
    def estCost(name: String): Double =
      // min-of-2 below 5 s and for q_stream at any duration (the loop's
      // own protocol), + hygiene ~0.6 s; unbanded keys get a
      // conservative placeholder so the projection can't run optimistic
      bands.get(name).map { b =>
        val runs = if (b < 5.0 || name.startsWith("q_stream")) 2 else 1
        runs * b + 0.6
      }.getOrElse(12.0)
    // keys not yet processed this run (parity-rotated ones excluded up
    // front) — the overrun projection sums their banded estimates
    val pendingKeys = scala.collection.mutable.LinkedHashSet(
      suiteSeq.collect { case (n, _) if !rotatedOut(n) => n }: _*)
    def projectedS: Double =
      pendingKeys.iterator.map(estCost).sum * math.max(1.0, machineIndex)
    val shedSet = scala.collection.mutable.LinkedHashSet[String]()
    def deepenRotation(): Unit = if (rotationParity.nonEmpty) {
      val eligible = scala.collection.mutable.TreeSet.empty[(Double, String)]
      pendingKeys.foreach { n =>
        if (!n.startsWith("q_stream"))
          bands.get(n).filter(_ < AdaptiveRotateBelowS)
            .foreach(b => eligible += ((b, n)))
      }
      while (projectedS > remainingS - 170 && eligible.nonEmpty) {
        val (b, cheapest) = eligible.head
        eligible.remove((b, cheapest))
        shedSet += cheapest
        pendingKeys -= cheapest
        System.err.println(f"[bench] adaptive-rotate $cheapest " +
          f"(band $b%.2f s, projected $projectedS%.0f s, " +
          f"remaining $remainingS%.0f s, machine_index $machineIndex%.2f)")
      }
    }
    suiteSeq.foreach { case (name, fn) =>
      if (rotatedOut(name)) rotated += name
      else if ({ deepenRotation(); shedSet(name) }) rotated += name
      // reserve room for the twin + artifact writes before the budget
      // wall (the d-series already ran — it no longer needs a rump here)
      else if ({ pendingKeys -= name; budgetOk(name, 150) }) try {
        hygiene(spark) // clean slate per query — see hygiene scaladoc
        val runs = scala.collection.mutable.ArrayBuffer(
          time(exec(fn(spark, sfDir))))
        // q_stream_* keeps min-of-2 at any duration: the micro-batch
        // family is the one documented to catch machine-level drift
        // windows (r13 run 1: five consecutive stream readings 2–8×
        // while everything after landed in band), and a single reading
        // can't tell a window from a regression
        if (runs.head < 5.0 || name.startsWith("q_stream")) {
          runs += time(exec(fn(spark, sfDir)))
          // two runs disagreeing >50% means one hit a drift window (GC,
          // cleanup, page-cache churn) — a third run resolves which
          if (math.abs(runs(0) - runs(1)) / math.max(runs.min, 1e-9) > 0.5)
            runs += time(exec(fn(spark, sfDir)))
        }
        // band guard: the single-run-for-≥5 s protocol saved the budget
        // but let one drifty reading ship unconfirmed (r13's 79 s
        // q_substring_trim_exact) — an out-of-band reading now buys its
        // own confirming run and the artifact records both
        results(name) = bandGuarded(name, runs.toSeq, () =>
          try { hygiene(spark); Some(time(exec(fn(spark, sfDir)))) }
          catch { case NonFatal(e) =>
            // a crashing confirming run must be distinguishable from an
            // unfunded one in the logs (it is None either way)
            System.err.println(
              s"[bench] band-guard rerun $name failed: ${e.getMessage}")
            None
          })
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        failed += name
      }
    }
    hygiene(spark)

    // twin self-check: q_monster and b1_monster execute the SAME
    // Queries.queries("q_monster") DataFrame — any large spread between
    // them is environment drift inside this run, not a plan difference,
    // and flags every absolute number in this JSON as suspect (r3 read
    // 12.04s vs 1.15s on the twins; that run's absolutes were discarded).
    // r10/r11 compared readings taken under DIFFERENT protocols (suite
    // min-of-2 loop vs burn+ABBA pair) and the spread grew 0.03 → 0.81
    // on identical plans — protocol mismatch, not drift. Both twins now
    // run under the pair protocol: b1_monster in the headline pass at the
    // start of the run, the q_monster twin re-measured HERE (end of the
    // suite loop) against the same native-SQL control, so the spread is a
    // pure start-vs-end drift thermometer on identical plans + protocol.
    for {
      twinOurs <- guarded("twin q_monster")(Queries.queries("q_monster")(spark, sfDir))
      twinControl <- ctl.get("b1_monster")
    } measurePair(spark, "q_monster_twin", twinOurs, twinControl, twinTimes,
      twinCtl, ctlBandKey = Some("b1_monster_ctl")) // end-of-run machine point

    // final artifact: the full line + summary, printed as the LAST
    // stdout lines so any tail capture parses the summary
    emit("complete", printFull = true, printSummary = true)
    rmrf(new java.io.File(wprobePath)) // write-probe scratch
    spark.stop()
    val missingFromSuite = (Queries.queries.keySet -- results.keySet
      -- failed.toSet -- skipped.toSet -- rotated.toSet).toSeq.sorted
    if (failed.nonEmpty || missingFromSuite.nonEmpty) sys.exit(1)
  }

  /** Headline benches + controls over 10x-amplified inputs (min-of-2),
    * plus 1x-vs-10x trend lines for the LLM-pipeline dedup headliners —
    * the scale step: same plans over input amplified with a
    * range-explode (keys re-salted to stay unique), to catch
    * super-linearity an order of magnitude early. Single tables are
    * amplified, not re-generated — this times plan scaling, it is not a
    * correctness input. Returns whether the b5 ours/control physical
    * plans match at 10x.
    */
  private def runScaleStep(spark: SparkSession, sfDir: String,
                           times: scala.collection.mutable.Map[String, Double],
                           ctlTimes: scala.collection.mutable.Map[String, Double]): Boolean = {
    // amplify: 10 copies, integer keys offset per copy so joins/sorts see
    // 10x distinct keys, not 10x duplicates of each key. Exception:
    // b5_wordcount groups on words from the duplicated text, so it sees
    // 10x rows per key at FIXED key cardinality — that is intentional
    // (it scales the combiner/partial-agg shape, the shape the reference's
    // combiner benches stressed), not a key-scaling bench.
    def amp(name: String, keyCols: Seq[String]): DataFrame = {
      val base = Tables.load(spark, sfDir, name)
      val withK = base.crossJoin(spark.range(10).select(col("id").as("_k")))
      keyCols.foldLeft(withK) { (d, c) =>
        d.withColumn(c, col(c) + col("_k") * lit(1000000000L))
      }.drop("_k")
    }
    val li = amp("lineitem", Seq("l_orderkey"))
    val ev = amp("events", Seq("event_id"))
    val docs = amp("documents", Seq("doc_id"))
    li.createOrReplaceTempView("lineitem10x")
    ev.createOrReplaceTempView("events10x")
    docs.createOrReplaceTempView("documents10x")
    val part = Tables.load(spark, sfDir, "part")
    part.createOrReplaceTempView("part10x") // dims stay 1x: 10x facts per part
    val pairs: Seq[(String, DataFrame, DataFrame)] = Seq(
      ("b1_monster", {
        // q_monster's plan over the amplified facts: same filter/agg/
        // broadcast-join/topk stages, 10x input, unchanged dimensions
        val s1 = li.where(substring(md5((col("l_orderkey") * 8 + col("l_linenumber"))
            .cast("string")), 1, 1).isin("0", "1"))
          .groupBy("l_partkey")
          .agg(sum(col("l_quantity").cast("long")).as("qty"),
            sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("rev_cents"))
        s1.join(broadcast(part), col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand")
          .agg(sum(col("rev_cents")).as("revenue_cents"), count(lit(1)).as("nparts"))
          .orderBy(col("revenue_cents").desc, col("p_brand")).limit(10)
      },
        spark.sql("""
          WITH s1 AS (
            SELECT l_partkey, sum(CAST(l_quantity AS BIGINT)) AS qty,
                   sum(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS rev_cents
            FROM lineitem10x
            WHERE substr(md5(CAST(l_orderkey*8 + l_linenumber AS STRING)), 1, 1) IN ('0','1')
            GROUP BY 1),
          s2 AS (
            SELECT p_brand, sum(rev_cents) AS revenue_cents, count(1) AS nparts
            FROM s1 JOIN part10x ON l_partkey = p_partkey GROUP BY 1)
          SELECT * FROM s2 ORDER BY revenue_cents DESC, p_brand LIMIT 10""")),
      ("b2_full_sort",
        li.orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber")),
        spark.sql("SELECT * FROM lineitem10x ORDER BY l_shipdate, l_orderkey, l_linenumber")),
      ("b3_ref_select",
        li.where(substring(md5(concat_ws("|", col("l_orderkey"), col("l_linenumber"))), 1, 2)
          .isin("00")).coalesce(1),
        spark.sql("""SELECT * FROM lineitem10x
          WHERE substr(md5(concat_ws('|', l_orderkey, l_linenumber)), 1, 2) = '00'""").coalesce(1)),
      ("b4_text_sort",
        ev.select(concat_ws("\t", col("event_id"), col("event_type"),
          col("user_id"), col("value")).as("line")).orderBy("line"),
        spark.sql("""SELECT concat_ws('\t', event_id, event_type, user_id, value) AS line
          FROM events10x ORDER BY line""")),
      ("b5_wordcount",
        docs.select(explode(split(col("text"), "\\s+")).as("w"))
          .where(length(col("w")) > 0)
          .groupBy("w").agg(count(lit(1)).as("cnt")),
        spark.sql("""SELECT w, count(1) AS cnt FROM (
          SELECT explode(split(text, '\\s+')) AS w FROM documents10x)
          WHERE length(w) > 0 GROUP BY 1""")),
    )
    // measured via measurePair (burn pair + ABBA + adaptive retries —
    // see its scaladoc), with a per-pair plan-identity check at 10x
    pairs.foreach { case (name, ours, ctl) =>
      checkPlanMatch(s"${name}_10x", ours, ctl)
      // the 10x control readings land in scale10x_controls, whose band
      // keys carry the _1x suffix (make_bands.py convention)
      measurePair(spark, name, ours, ctl, times, ctlTimes,
        ctlBandKey = Some(s"${name}_1x"))
    }
    val b5PlanMatch = planMatches.getOrElse("b5_wordcount_10x", false)

    // LLM-pipeline headliners at scale: the SAME dedup plans at 1x and
    // 10x. No hand-written SQL control exists for the multi-stage
    // LSH/clustering pipelines, so the "control" column holds the 1x time
    // of the identical plan: ratio ≈ 10 is linear scaling, lower is
    // sub-linear, a blow-up means a super-linear stage (the all-pairs
    // failure mode the bucketing guards exist to prevent).
    //
    // Amplification must DECORRELATE the copies: 10 exact clones per doc
    // would grow Σ bucketSize² (the LSH join cost) 100x on any plan —
    // a clone-clique artifact, not a scaling signal. Documents get a
    // per-copy token suffix (near-dup structure preserved WITHIN a copy,
    // none across copies → same near-dup density as 1x); embeddings get a
    // per-copy deterministic sign-flip pattern (norms preserved, copies
    // decorrelated). Single run each — trend lines, not ≤2x certifications.
    import graft.dedup.Dedup
    val docs1x = Tables.load(spark, sfDir, "documents")
    val emb1x = Tables.load(spark, sfDir, "embeddings")
    def ampDocs(n: Int): DataFrame = docs1x
      .crossJoin(spark.range(n).select(col("id").as("_k")))
      .withColumn("doc_id", col("doc_id") + col("_k") * lit(1000000000L))
      .withColumn("text", array_join(
        transform(split(col("text"), "\\s+"),
          t => concat(t, lit("~"), col("_k"))), " "))
      .drop("_k")
    val docs10x = ampDocs(10)
    // plain row replication — every copy shares all tokens/windows with
    // copy 0: the CORRELATED growth mode (d14 vocab, d16 dup structure).
    // Same doc_id offset convention as ampDocs so copies never collide.
    def rawCopies(n: Int): DataFrame = docs1x
      .crossJoin(spark.range(n).select(col("id").as("_k")))
      .withColumn("doc_id", col("doc_id") + col("_k") * lit(1000000000L))
      .drop("_k")
    val emb10x = emb1x
      .crossJoin(spark.range(10).select(col("id").as("_k")))
      .withColumn("vec_id", col("vec_id") + col("_k") * lit(1000000000L))
      .withColumn("embedding", transform(col("embedding"),
        (x, i) => when(pmod(hash(col("_k"), i), lit(2)) === 0, x).otherwise(-x)))
      .drop("_k")
    // same failure isolation as the pair loop: a non-convergence on the
    // amplified input (the realistic failure mode for dedupClusters) must
    // not take the whole report down with it. Min-of-2 per point: the
    // single-run trend lines drifted between rounds (d1 read 3.70x in r4,
    // 4.61x in r5 on identical code) — two hygiene-separated runs bound
    // the JVM-state noise the pair protocol bounds for the headliners.
    // each run guarded individually: if run 1 succeeds and run 2 hits the
    // non-convergence failure mode, keep the completed reading instead of
    // discarding the key — drop it only when BOTH runs fail. Sub-2s
    // points get a third run (same rule as the pair protocol's extra
    // ABBA pass): the short 1x denominators are what moved the trend
    // ratios between rounds (d3 read 3.4x in r6 and 7.5x in r7 with the
    // 10x absolutes nearly unchanged — the 1x point alone drifted).
    def measure(key: String, into: scala.collection.mutable.Map[String, Double])
               (fn: => Unit): Unit = {
      if (!budgetOk(key, 120)) return
      def one(i: Int): Option[Double] =
        try { hygiene(spark); Some(time(fn)) }
        catch { case NonFatal(e) =>
          System.err.println(s"[bench] scale-step $key run $i failed: ${e.getMessage}")
          None
        }
      // ≥5 s readings take a SINGLE run: the between-round trend drift
      // lived in the short denominators (d3's 1x point alone moved its
      // ratio 3.4x→7.5x), while the long 10x sides were stable — and
      // their second runs were the biggest wall cost in the r12 run the
      // driver timed out. Short points keep min-of-2 (+1 if sub-2 s).
      var runs = one(1).toSeq
      if (runs.isEmpty || runs.min < 5.0) runs ++= one(2)
      if (runs.nonEmpty && runs.min < 2.0) runs ++= one(3)
      // band guard, same rationale as the suite loop: the d-series' long
      // 10x sides are single-run, so a drift window there shipped
      // unattributable trend ratios (r13's d22 at 21.8x). Band keys
      // carry the scale side (the 1x control and 10x point have very
      // different expected readings).
      if (runs.nonEmpty) {
        val bandKey = key + (if (into eq ctlTimes) "_1x" else "_10x")
        into(key) = bandGuarded(bandKey, runs.toSeq, () => one(4))
      }
    }
    measure("d1_dedup_corpus", ctlTimes)(exec(Dedup.dedupCorpus(docs1x)))
    measure("d1_dedup_corpus", times)(exec(Dedup.dedupCorpus(docs10x)))
    // d1's candidate-generation stage alone (minhash + banding + bucket
    // join, same args dedupCorpus passes): attributes a d1 trend move to
    // candidates vs clustering — d1 minus d1a is the label-propagation share
    measure("d1a_candidates", ctlTimes)(exec(
      Dedup.minhashCandidates(docs1x, numPerms = 8, rowsPerBand = 2,
        shingleN = 3, maxBucket = 1000)))
    measure("d1a_candidates", times)(exec(
      Dedup.minhashCandidates(docs10x, numPerms = 8, rowsPerBand = 2,
        shingleN = 3, maxBucket = 1000)))
    // attribution counters for the d1a trend (untimed, one extra agg per
    // scale): the bucket join's work is Σn over surviving buckets rows in
    // and ≤ Σn² pairs out, so these decompose a trend move into
    // bucket-size growth vs plain shuffle volume
    def bucketDiag(tag: String, docs: DataFrame): Unit = try {
      val sizes = Dedup.lshBands(
          Dedup.minhashSignatures(docs, numPerms = 8, shingleN = 3), 8, 2)
        .groupBy("band", "bkey").agg(count(lit(1)).as("n"))
      val r = sizes.agg(
        count(lit(1)).as("buckets"),
        coalesce(sum(when(col("n") <= 1000, col("n"))), lit(0L)).as("sum_n"),
        coalesce(sum(when(col("n") <= 1000, col("n") * col("n"))), lit(0L)).as("sum_n2"),
        coalesce(sum(when(col("n") > 1000, lit(1L))), lit(0L)).as("dropped")).head()
      scaleDiag(s"d1a_${tag}_buckets") = r.getLong(0)
      scaleDiag(s"d1a_${tag}_sum_bucket") = r.getLong(1)
      scaleDiag(s"d1a_${tag}_sum_bucket_sq") = r.getLong(2)
      scaleDiag(s"d1a_${tag}_dropped_buckets") = r.getLong(3)
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] bucket diag $tag failed: ${e.getMessage}")
    }
    if (budgetOk("d1a_diag", 120)) {
      bucketDiag("1x", docs1x)
      bucketDiag("10x", docs10x)
      // d1a at 30x, counters only (single untimed pass): the 10x counters
      // prove linearity; this point shows sum_bucket_sq stays ∝ rows as
      // bucket occupancy keeps rising another 3x
      bucketDiag("30x", ampDocs(30))
    }
    // same attribution counters for the pigeonhole-band simhash buckets
    // (4-band/64-bit = d3, 8-band/128-bit = d3b), so a moved trend
    // decomposes the same way — and the two widths' bucket profiles are
    // directly comparable
    def simhashDiag(prefix: String, tag: String, nBands: Int, docs: DataFrame): Unit = try {
      val sig = if (nBands == 8) Dedup.simhash128(docs) else Dedup.simhash64(docs)
      val sizes = sig.select(col("doc_id"),
          explode(array((0 until nBands).map(k =>
            struct(lit(k).as("band"), col(s"b$k").as("bkey"))): _*)).as("e"))
        .groupBy(col("e.band"), col("e.bkey")).agg(count(lit(1)).as("n"))
      val r = sizes.agg(
        count(lit(1)).as("buckets"),
        coalesce(sum(when(col("n") <= 1000, col("n"))), lit(0L)).as("sum_n"),
        coalesce(sum(when(col("n") <= 1000, col("n") * col("n"))), lit(0L)).as("sum_n2"),
        coalesce(sum(when(col("n") > 1000, lit(1L))), lit(0L)).as("dropped")).head()
      scaleDiag(s"${prefix}_${tag}_buckets") = r.getLong(0)
      scaleDiag(s"${prefix}_${tag}_sum_bucket") = r.getLong(1)
      scaleDiag(s"${prefix}_${tag}_sum_bucket_sq") = r.getLong(2)
      scaleDiag(s"${prefix}_${tag}_dropped_buckets") = r.getLong(3)
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] simhash diag $prefix $tag failed: ${e.getMessage}")
    }
    if (budgetOk("d3_diag", 90)) {
      simhashDiag("d3", "1x", 4, docs1x)
      simhashDiag("d3", "10x", 4, docs10x)
    }
    measure("d2_near_dup_embed", ctlTimes)(exec(
      Dedup.embeddingNearDups(emb1x, dim = 64, threshold = 0.99, nBits = 8)))
    measure("d2_near_dup_embed", times)(exec(
      Dedup.embeddingNearDups(emb10x, dim = 64, threshold = 0.99, nBits = 8)))
    // same attribution counters for d2's hyperplane buckets — with this,
    // every candidate generator's bucket profile is measured per round
    // (cap mirrors embeddingNearDups' maxBucket default)
    def embDiag(tag: String, vecs: DataFrame): Unit = try {
      val sizes = graft.sim.Similarity.buildLshIndex(vecs, dim = 64, nBits = 8)
        .groupBy("bucket").agg(count(lit(1)).as("n"))
      val r = sizes.agg(
        count(lit(1)).as("buckets"),
        coalesce(sum(when(col("n") <= 1000000, col("n"))), lit(0L)).as("sum_n"),
        coalesce(sum(when(col("n") <= 1000000, col("n") * col("n"))), lit(0L)).as("sum_n2"),
        coalesce(sum(when(col("n") > 1000000, lit(1L))), lit(0L)).as("dropped")).head()
      scaleDiag(s"d2_${tag}_buckets") = r.getLong(0)
      scaleDiag(s"d2_${tag}_sum_bucket") = r.getLong(1)
      scaleDiag(s"d2_${tag}_sum_bucket_sq") = r.getLong(2)
      scaleDiag(s"d2_${tag}_dropped_buckets") = r.getLong(3)
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] emb diag $tag failed: ${e.getMessage}")
    }
    if (budgetOk("d2_diag", 90)) {
      embDiag("1x", emb1x)
      embDiag("10x", emb10x)
    }
    measure("d3_simhash_pairs", ctlTimes)(exec(Dedup.simhashPairs(docs1x)))
    measure("d3_simhash_pairs", times)(exec(Dedup.simhashPairs(docs10x)))
    // d3b: the 128-bit/8-band mitigation on the same two scales. The d3
    // counters showed the 64-bit band space saturating (sum_bucket_sq
    // 14x under 10x rows, drops rising); this trend + its own counters
    // verify the wider bands actually flatten that knee (expect
    // sum_bucket_sq growth ≈ rows growth, drops → 0)
    measure("d3b_simhash128_pairs", ctlTimes)(exec(Dedup.simhashPairs128(docs1x)))
    measure("d3b_simhash128_pairs", times)(exec(Dedup.simhashPairs128(docs10x)))
    if (budgetOk("d3b_diag", 90)) {
      simhashDiag("d3b", "1x", 8, docs1x)
      simhashDiag("d3b", "10x", 8, docs10x)
    }
    // d5: SemDeDup semantic dedup trend — trained k-means cells are the
    // candidate buckets, so the self-join costs Σcell². Fixed k at 1x and
    // 10x exposes cells deepening with the corpus (sum_cell_sq ≈ n²/k);
    // the third point re-runs 10x with k scaled ∝ corpus — the
    // discipline the operator's scaladoc prescribes — and shares the d5
    // 1x denominator, so its ratio ≈ 10 IS the restored-linearity claim.
    measure("d5_semantic_dedup", ctlTimes)(exec(
      Dedup.semanticNearDups(emb1x, k = 16, iters = 2, threshold = 0.99)))
    measure("d5_semantic_dedup", times)(exec(
      Dedup.semanticNearDups(emb10x, k = 16, iters = 2, threshold = 0.99)))
    measure("d5k_semantic_kprop", times)(exec(
      Dedup.semanticNearDups(emb10x, k = 160, iters = 2, threshold = 0.99)))
    // d5k's control slot is the SAME 1x/k=16 reading as d5 (copied, not
    // re-measured): k∝corpus at 10x vs fixed-k at 1x is exactly the
    // pairing whose ratio should read ≈ linear
    ctlTimes.get("d5_semantic_dedup").foreach(v => ctlTimes("d5k_semantic_kprop") = v)
    def cellDiag(tag: String, vecs: DataFrame, k: Int): Unit = try {
      val assign = graft.sim.Similarity.kmeansFit(vecs, k, 2)._1
      val sizes = assign.groupBy("cell").agg(count(lit(1)).as("n"))
      val r = sizes.agg(
        count(lit(1)).as("cells"),
        coalesce(sum(col("n")), lit(0L)).as("sum_n"),
        coalesce(sum(col("n") * col("n")), lit(0L)).as("sum_n2")).head()
      scaleDiag(s"d5_${tag}_cells") = r.getLong(0)
      scaleDiag(s"d5_${tag}_sum_cell") = r.getLong(1)
      scaleDiag(s"d5_${tag}_sum_cell_sq") = r.getLong(2)
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] cell diag $tag failed: ${e.getMessage}")
    }
    if (budgetOk("d5_diag", 90)) {
      cellDiag("1x_k16", emb1x, 16)
      cellDiag("10x_k16", emb10x, 16)
      cellDiag("10x_k160", emb10x, 160)
    }

    // d6: token-block batching trend — the distributed prefix sum's
    // claim is work ∝ rows with driver state ∝ PARTITIONS (the collected
    // per-partition offsets), never ∝ rows. offset_rows records that
    // bound: it stays at the shuffle-partition count while docs/tokens/
    // blocks grow 10x.
    // 1x side uses ampDocs(1), not raw docs1x: the amplifier's per-token
    // suffix rewrite is a large share of this cheap operator's wall
    // (unlike d1/d3 where the dedup pipeline dwarfs it), so both sides
    // pay the identical transform and the ratio isolates the operator
    measure("d6_token_blocks", ctlTimes)(exec(graft.text.TokenBlocks.manifest(
      graft.text.TokenBlocks.assign(ampDocs(1), "doc_id",
        graft.text.TextAnalysis.tokenCount(col("text")) + 1, 512), 512)))
    measure("d6_token_blocks", times)(exec(graft.text.TokenBlocks.manifest(
      graft.text.TokenBlocks.assign(docs10x, "doc_id",
        graft.text.TextAnalysis.tokenCount(col("text")) + 1, 512), 512)))
    def tbDiag(tag: String, docs: DataFrame): Unit = try {
      val a = graft.text.TokenBlocks.assign(docs, "doc_id",
        graft.text.TextAnalysis.tokenCount(col("text")) + 1, 512)
      val r = a.agg(count(lit(1)).as("docs"),
        coalesce(sum(col("w")), lit(0L)).as("tokens"),
        coalesce(max(col("last_block")), lit(0L)).as("blocks")).head()
      scaleDiag(s"d6_${tag}_docs") = r.getLong(0)
      scaleDiag(s"d6_${tag}_tokens") = r.getLong(1)
      scaleDiag(s"d6_${tag}_blocks") = r.getLong(2) + 1
      scaleDiag(s"d6_${tag}_offset_rows") =
        spark.sessionState.conf.numShufflePartitions.toLong
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] token-block diag $tag failed: ${e.getMessage}")
    }
    if (budgetOk("d6_diag", 60)) {
      tbDiag("1x", docs1x)
      tbDiag("10x", docs10x)
    }

    // d7a: count-min heavy-hitter trend on decorrelated lineitem keys
    // (per-copy partkey offset: distinct keys and true hitters grow 10x,
    // per-key counts stay 1x) through the AUTO-sized path — the pre-pass
    // + derived width at both scales, so the trend includes the sizing
    // cost it claims is cheap, auto-vs-auto apples to apples. The fixed-
    // width d7/d7w pairs (r9–r12 artifacts) exposed the absolute-
    // threshold saturation knee and the width-∝-N fix; with auto-width
    // the certified operator, they're retired (r12 verdict: the two
    // steps were 100 s of redundant wall in a timed-out run) — the
    // counters below still pin the gate's shuffle bound at each scale.
    val li1x = Tables.load(spark, sfDir, "lineitem").select(col("l_partkey"))
    val li10xKeys = li1x
      .crossJoin(spark.range(10).select(col("id").as("_k")))
      .withColumn("l_partkey", col("l_partkey") + col("_k") * lit(1000000000L))
      .drop("_k")
    measure("d7a_heavy_hitters_auto", ctlTimes)(exec(
      graft.agg.CountMin.heavyHittersAuto(li1x, col("l_partkey"), 42)))
    measure("d7a_heavy_hitters_auto", times)(exec(
      graft.agg.CountMin.heavyHittersAuto(li10xKeys, col("l_partkey"), 42)))
    def hhDiag(tag: String, occ: DataFrame, width: Int): Unit = try {
      val bm = graft.agg.CountMin.hotCellBitmaps(occ, col("l_partkey"), 42, 4, width)
      scaleDiag(s"d7_${tag}_hot_cells") = bm.map(_.map(java.lang.Long.bitCount(_).toLong).sum).min
      val sk = graft.agg.CountMin.sketchArrays(occ, col("l_partkey"), 4, width)
      val survivors = occ
        .filter(graft.agg.CountMin.estimate(col("l_partkey"), sk, width) >= 42)
        .select("l_partkey").distinct().count()
      val counts = occ.groupBy("l_partkey").agg(count(lit(1)).as("n"))
      val r = counts.agg(count(lit(1)).as("distinct"),
        coalesce(sum(when(col("n") >= 42, lit(1L))), lit(0L)).as("hitters")).head()
      scaleDiag(s"d7_${tag}_distinct_keys") = r.getLong(0)
      scaleDiag(s"d7_${tag}_true_hitters") = r.getLong(1)
      scaleDiag(s"d7_${tag}_gate_survivors") = survivors
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] heavy-hitter diag $tag failed: ${e.getMessage}")
    }
    if (budgetOk("d7a_diag", 120)) try {
      val w1 = graft.agg.CountMin.autoWidth(li1x, col("l_partkey"), 42)
      val w10 = graft.agg.CountMin.autoWidth(li10xKeys, col("l_partkey"), 42)
      scaleDiag("d7a_1x_auto_width") = w1.toLong
      scaleDiag("d7a_10x_auto_width") = w10.toLong
      hhDiag("1x_auto", li1x, w1)
      hhDiag("10x_auto", li10xKeys, w10)
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] d7a diag failed: ${e.getMessage}")
    }

    // d8: PageRank trend — 10 DISJOINT graph copies (per-copy node-id
    // suffix): nodes/edges grow 10x, graph structure per copy unchanged,
    // so per-iteration join work should scale ∝ edges with iteration
    // count fixed. Checkpoint writes are part of the measured cost (they
    // are the operator's real per-iteration price).
    val edges1x = Tables.load(spark, sfDir, "lineitem").select(
      concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
      concat(lit("p"), col("l_partkey").cast("string")).as("dst"))
    val edges10x = Tables.load(spark, sfDir, "lineitem")
      .crossJoin(spark.range(10).select(col("id").as("_k")))
      .select(
        concat(lit("s"), col("l_suppkey").cast("string"),
          lit("~"), col("_k")).as("src"),
        concat(lit("p"), col("l_partkey").cast("string"),
          lit("~"), col("_k")).as("dst"))
    measure("d8_pagerank", ctlTimes)(exec(
      graft.graph.PageRank.pageRank(edges1x, "src", "dst", iters = 3)))
    measure("d8_pagerank", times)(exec(
      graft.graph.PageRank.pageRank(edges10x, "src", "dst", iters = 3)))
    def prDiag(tag: String, edges: DataFrame): Unit = try {
      val e = edges.distinct()
      scaleDiag(s"d8_${tag}_edges") = e.count()
      scaleDiag(s"d8_${tag}_nodes") = e.select(col("src").as("n"))
        .unionByName(e.select(col("dst").as("n"))).distinct().count()
    } catch { case NonFatal(ex) =>
      System.err.println(s"[bench] pagerank diag $tag failed: ${ex.getMessage}")
    }
    if (budgetOk("d8_diag", 60)) {
      prDiag("1x", edges1x)
      prDiag("10x", edges10x)
    }

    // d9: inverted-index trend — the one shuffle-heavy text operator
    // without a d-point until now. Decorrelated 10x (ampDocs suffixes
    // every token with its copy id): vocabulary grows 10x, per-term df
    // stays 1x, so the tokenize+tf shuffle and the assembly groupBy
    // should both scale ∝ rows. The postings-length counters attribute a
    // trend move the same way d1a's bucket histogram does: sum_postings
    // is the assembly shuffle's row volume, max_postings its largest
    // single reducer list, dropped_terms the stop-gate's work avoided. A
    // counters-only CORRELATED 10x point (plain row copies, same vocab →
    // df grows 10x) shows the maxDfFrac gate holding: terms that cross
    // the 50% df threshold move from survivors to dropped, so
    // max_postings stays bounded by corpus growth rather than vocabulary.
    measure("d9_inverted_index", ctlTimes)(exec(
      graft.text.TextAnalysis.invertedIndex(docs1x)))
    measure("d9_inverted_index", times)(exec(
      graft.text.TextAnalysis.invertedIndex(docs10x)))
    def invDiag(tag: String, docs: DataFrame): Unit = try {
      val idx = graft.text.TextAnalysis.invertedIndex(docs)
        .select(col("term"), col("df"))
      val r = idx.agg(
        count(lit(1)).as("terms"),
        coalesce(sum(col("df")), lit(0L)).as("sum_postings"),
        coalesce(max(col("df")), lit(0L)).as("max_postings")).head()
      scaleDiag(s"d9_${tag}_terms") = r.getLong(0)
      scaleDiag(s"d9_${tag}_sum_postings") = r.getLong(1)
      scaleDiag(s"d9_${tag}_max_postings") = r.getLong(2)
      // stop-gate work avoided: distinct terms minus survivors
      val vocab = docs.select(explode(
        graft.text.TextAnalysis.tokenize(col("text"))).as("t"))
        .distinct().count()
      scaleDiag(s"d9_${tag}_dropped_terms") = vocab - r.getLong(0)
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] inverted-index diag $tag failed: ${e.getMessage}")
    }
    if (budgetOk("d9_diag", 90)) {
      invDiag("1x", docs1x)
      invDiag("10x", docs10x)
      // correlated copies: same text repeated, doc ids distinct — df ×10
      invDiag("10x_corr", docs1x
        .crossJoin(spark.range(10).select(col("id").as("_k")))
        .withColumn("doc_id", col("doc_id") + col("_k") * lit(1000000000L))
        .drop("_k"))
    }

    // d10: batched-IVFPQ trend — fixed query set, corpus ×10 (the sign-
    // flipped decorrelated emb10x). With centroids/codebooks/nprobe held
    // constant, cells grow ∝ corpus, so the ADC stage's input (candidate
    // pairs = Σ_q Σ_probed |cell|) should grow ≈10× while the probe and
    // codebook sides stay O(1) broadcast metadata. The counters measure
    // exactly that input: probed-cell occupancy and the candidate-pair
    // count, attributing any wall-clock move to cell growth vs overhead.
    try {
      val cent10 = emb1x.where(col("vec_id") < 8)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).map(_.toDouble).toSeq)).toSeq
      val pqBooks = graft.sim.Pq.seedCodebooks(emb1x, m = 8, ksub = 16)
      val pqQueries = emb1x.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      def ivfpqRun(corpus: DataFrame): DataFrame =
        graft.sim.Pq.ivfAdcTopKBatch(
          graft.sim.Similarity.buildIvfIndex(corpus, cent10),
          cent10, pqBooks, pqQueries, k = 5, nprobe = 2)
      measure("d10_ivfpq_batch", ctlTimes)(exec(ivfpqRun(emb1x)))
      measure("d10_ivfpq_batch", times)(exec(ivfpqRun(emb10x)))
      def ivfpqDiag(tag: String, corpus: DataFrame): Unit = try {
        val cells = graft.sim.Similarity.buildIvfIndex(corpus, cent10)
          .groupBy("cell").agg(count(lit(1)).as("n"))
        val r = cells.agg(count(lit(1)).as("cells"),
          coalesce(sum(col("n")), lit(0L)).as("sum_cell"),
          coalesce(max(col("n")), lit(0L)).as("max_cell")).head()
        scaleDiag(s"d10_${tag}_cells") = r.getLong(0)
        scaleDiag(s"d10_${tag}_sum_cell") = r.getLong(1)
        scaleDiag(s"d10_${tag}_max_cell") = r.getLong(2)
        // the ADC stage's exact input size: probed (query, candidate)
        // pairs — per query, Σ|cell| over its nprobe probed cells
        // (queries and cell histogram are both driver-class metadata here)
        def cosSeq(a: Seq[Double], b: Seq[Double]): Double = {
          val d = a.zip(b).map { case (x, y) => x * y }.sum
          d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
        }
        val sizes = cells.collect()
          .map(rr => rr.getAs[Number](0).intValue -> rr.getLong(1)).toMap
        // limit(256): pqQueries is a corpus FRACTION (vec_id % 100), so
        // an uncapped collect here would be the one driver-side pull in
        // the repo that grows with corpus scale (r12 verdict #3). The
        // diag needs representative probes, not every query; at sf0.1
        // the limit is not even reached.
        val pairs = pqQueries.limit(256)
          .select(col("embedding").cast("array<double>")).collect()
          .map(_.getSeq[Double](0)).map { qv =>
            cent10.map { case (cid, cv) => (cosSeq(qv, cv), cid) }
              .sortBy { case (sim, cid) => (-sim, cid) }.take(2)
              .map { case (_, cid) => sizes.getOrElse(cid, 0L) }.sum
          }.sum
        scaleDiag(s"d10_${tag}_candidate_pairs") = pairs
        scaleDiag(s"d10_${tag}_queries") = pqQueries.count()
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] ivfpq diag $tag failed: ${e.getMessage}")
      }
      if (budgetOk("d10_diag", 60)) {
        ivfpqDiag("1x", emb1x)
        ivfpqDiag("10x", emb10x)
      }
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] d10 failed: ${e.getMessage}")
    }

    // d12: incremental-dedup trend — fixed HISTORY fingerprint table,
    // new batch ×10 (decorrelated doc copies). The operator's claim is
    // work ∝ batch with the history contributing only the bloom build +
    // candidate-key anti join: wall should scale ≈ batch, and the
    // counters attribute it — fast_path rows (bloom miss, no join) vs
    // candidates (bloom hit → exact anti join), with candidates staying
    // ≈ (planted dup rate + fpp)·batch at both scales.
    try {
      import graft.dedup.Dedup
      // history from the SUFFIXED 1x docs (ampDocs(1)) so copy-0 re-crawls
      // in both batches are TRUE history dups — the counters then show
      // candidates = true dups + ~fpp·batch at each scale
      val histFps = Dedup.exact(ampDocs(1).where(col("doc_id") % 3 === 0))
        .select("text_hash")
      def batchOf(docs: DataFrame): DataFrame =
        docs.where(col("doc_id") % 3 =!= 0).select("doc_id", "text")
          .unionByName(docs.where(col("doc_id") % 3 === 0 && col("doc_id") < 120)
            .select((col("doc_id") + lit(5000000L)).as("doc_id"), col("text")))
      // 1x side pays the identical amplifier transform (the d6 rationale)
      val b1 = batchOf(ampDocs(1))
      val b10 = batchOf(docs10x)
      measure("d12_incremental_dedup", ctlTimes)(exec(
        Dedup.incrementalExact(b1, histFps, expectedHistory = 1000000L)))
      measure("d12_incremental_dedup", times)(exec(
        Dedup.incrementalExact(b10, histFps, expectedHistory = 1000000L)))
      def incDiag(tag: String, batch: DataFrame): Unit = try {
        val pred = graft.sources.MapLookup.bloomPredicate(
          histFps, "text_hash", expectedKeys = 1000000L)(col("text_hash"))
        val deduped = Dedup.exact(batch)
        val r = deduped.agg(count(lit(1)).as("batch_keys"),
          coalesce(sum(when(pred, 1L).otherwise(0L)), lit(0L)).as("candidates")).head()
        scaleDiag(s"d12_${tag}_batch_keys") = r.getLong(0)
        scaleDiag(s"d12_${tag}_candidates") = r.getLong(1)
        scaleDiag(s"d12_${tag}_fast_path") = r.getLong(0) - r.getLong(1)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] d12 diag $tag failed: ${e.getMessage}")
      }
      if (budgetOk("d12_diag", 60)) {
        incDiag("1x", b1)
        incDiag("10x", b10)
      }
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] d12 failed: ${e.getMessage}")
    }

    // d13: substring-dedup trend — duplicateWindows over decorrelated
    // ×10 docs. The operator's claim: work ∝ character windows (one
    // explode + one hash groupBy + one join back), NEVER doc-pairs —
    // so wall and every counter should read ≈10× while a pairwise
    // formulation would read ~100×. Counters attribute the join's
    // duplicated-hash side too: with decorrelated copies the dup RATE
    // is constant, so dup_windows also grows ∝ corpus, and the
    // groupBy-count formulation keeps even a fully-duplicated corpus
    // linear (k copies of a window are k rows in one hash bucket, not
    // k(k-1)/2 pairs).
    try {
      import graft.dedup.Dedup
      val w1 = ampDocs(1)
      measure("d13_substring_dedup", ctlTimes)(exec(
        Dedup.duplicateWindows(w1)))
      measure("d13_substring_dedup", times)(exec(
        Dedup.duplicateWindows(docs10x)))
      def winDiag(tag: String, corpus: DataFrame): Unit = try {
        val res = Dedup.duplicateWindows(corpus)
          .agg(coalesce(sum(col("total_windows")), lit(0L)).as("windows"),
            coalesce(sum(col("dup_windows")), lit(0L)).as("dup_windows"))
          .head()
        scaleDiag(s"d13_${tag}_windows") = res.getLong(0)
        scaleDiag(s"d13_${tag}_dup_windows") = res.getLong(1)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] d13 diag $tag failed: ${e.getMessage}")
      }
      if (budgetOk("d13_diag", 90)) {
        winDiag("1x", w1)
        winDiag("10x", docs10x)
      }
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] d13 failed: ${e.getMessage}")
    }

    // d14: BPE-training trend — trainMerges cost decomposes as one
    // corpus pass (wordCounts) + steps x vocab-sized work. The
    // decorrelated x10 point (ampDocs suffixes every token) grows BOTH
    // the corpus and the vocabulary 10x, so wall should read <=10x. The
    // CORRELATED x10 point (plain row copies, same vocab) is the sharp
    // claim: the corpus pass reads 10x rows but every per-step table
    // stays 1x vocab-sized, so wall should sit FAR below 10x — training
    // is never steps x corpus. Counters attribute which regime each
    // point is in: distinct_pairs tracks vocabulary, pair_mass tracks
    // corpus token volume.
    try {
      import graft.text.Bpe
      val corrDocs10 = rawCopies(10)
      def bpeRun(docs: DataFrame): Unit = { Bpe.trainMerges(docs, steps = 4); () }
      measure("d14_bpe_train", ctlTimes)(bpeRun(ampDocs(1)))
      measure("d14_bpe_train", times)(bpeRun(docs10x))
      measure("d14_bpe_train_corr", times)(bpeRun(corrDocs10))
      // the correlated point shares the 1x control measurement
      ctlTimes.get("d14_bpe_train").foreach(t => ctlTimes("d14_bpe_train_corr") = t)
      def bpeDiag(tag: String, docs: DataFrame): Unit = try {
        val vocab = Bpe.initSymbols(Bpe.wordCounts(docs))
        val r = Bpe.pairCounts(vocab)
          .agg(count(lit(1)).as("pairs"),
            coalesce(sum(col("c")), lit(0L)).as("mass")).head()
        scaleDiag(s"d14_${tag}_vocab") = vocab.count()
        scaleDiag(s"d14_${tag}_distinct_pairs") = r.getLong(0)
        scaleDiag(s"d14_${tag}_pair_mass") = r.getLong(1)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] d14 diag $tag failed: ${e.getMessage}")
      }
      if (budgetOk("d14_diag", 90)) {
        bpeDiag("1x", ampDocs(1))
        bpeDiag("10x", docs10x)
        bpeDiag("10x_corr", corrDocs10)
      }
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] d14 failed: ${e.getMessage}")
    }

    // d15: per-key top-K under a Zipf head domain — the crawl-balancing
    // cap. skewDocs relabels an n*40x replication of the corpus to ONE
    // hot source on top of the 1x tail. The DIRECT window is the trend
    // pair (1x control, 10x scale): Spark 4's InferWindowGroupLimit
    // bounds it map-side (<=K rows per key per input partition cross
    // the shuffle), so its wall should stay flat-ish in skew — that
    // optimization, not manual salting, is the scale mechanism, and the
    // salted two-stage form runs on the SAME 10x input to show it
    // (first r10 run measured salted 2.46 s vs direct 1.11 s). Counters
    // give the raw skew: hot_rows is the hot key's row count,
    // salted_max_cell the biggest (key, salt) cell.
    try {
      def skewDocs(n: Int): DataFrame = {
        val hot = docs1x
          .crossJoin(spark.range(n * 40L).select(col("id").as("_k")))
          .withColumn("doc_id", col("doc_id") + col("_k") * lit(1000000000L))
          .withColumn("source", lit("src_hot"))
          .drop("_k")
        docs1x.select("doc_id", "source", "n_chars")
          .unionByName(hot.select("doc_id", "source", "n_chars"))
      }
      val capOrder = Seq(col("n_chars").desc, col("doc_id"))
      def capDirect(df: DataFrame): DataFrame = {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(capOrder: _*)
        df.withColumn("rnk", row_number().over(w)).where(col("rnk") <= 10)
      }
      def capSalted(df: DataFrame): DataFrame =
        graft.ops.Skew.saltedTopKPerKey(df, col("source"), col("doc_id"),
          k = 10, order = capOrder, saltBuckets = 8)
      val sk1 = skewDocs(1)
      val sk10 = skewDocs(10)
      measure("d15_domain_cap", ctlTimes)(exec(capDirect(sk1)))
      measure("d15_domain_cap", times)(exec(capDirect(sk10)))
      measure("d15_domain_cap_salted", times)(exec(capSalted(sk10)))
      // the salted point shares the direct 1x control reading
      ctlTimes.get("d15_domain_cap")
        .foreach(t => ctlTimes("d15_domain_cap_salted") = t)
      def capDiag(tag: String, df: DataFrame): Unit = try {
        val r = df.groupBy("source").agg(count(lit(1)).as("c"))
          .agg(max(col("c")).as("hot"), count(lit(1)).as("keys")).head()
        scaleDiag(s"d15_${tag}_hot_rows") = r.getLong(0)
        scaleDiag(s"d15_${tag}_sources") = r.getLong(1)
        scaleDiag(s"d15_${tag}_salted_max_cell") = df
          .groupBy(col("source"),
            pmod(xxhash64(col("doc_id")), lit(8L)).as("_salt"))
          .agg(count(lit(1)).as("c")).agg(max(col("c"))).head().getLong(0)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] d15 diag $tag failed: ${e.getMessage}")
      }
      if (budgetOk("d15_diag", 60)) {
        capDiag("1x", sk1)
        capDiag("10x", sk10)
      }
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] d15 failed: ${e.getMessage}")
    }

    // d16: substring trim at 1x/10x in BOTH growth modes. Decorrelated
    // (token-suffixed copies): windows and cross-doc dup windows grow ∝
    // corpus at the 1x density — the honest-ingest trend. Raw
    // replication (no suffix): EVERY window becomes cross-doc
    // duplicated — the adversarial 100%-dup corpus — and the wall must
    // STAY linear because the cut decision is a hash aggregate, never a
    // pair join (the counters show dup share jumping to ~1 while the
    // time tracks the window count, not the dup structure).
    try {
      val raw10 = rawCopies(10)
      measure("d16_substring_trim", ctlTimes)(exec(
        Dedup.substringTrim(ampDocs(1))))
      measure("d16_substring_trim", times)(exec(
        Dedup.substringTrim(docs10x)))
      // the raw point gets its OWN matched control: the suffix transform
      // adds ~30% characters (and windows), so sharing the ampDocs(1)
      // reading would deflate the raw ratio by exactly the quantity the
      // trend exists to test
      measure("d16_substring_trim_raw", ctlTimes)(exec(
        Dedup.substringTrim(docs1x)))
      measure("d16_substring_trim_raw", times)(exec(
        Dedup.substringTrim(raw10)))
      def trimDiag(tag: String, docs: DataFrame): Unit = try {
        val r = Dedup.substringTrim(docs)
          .agg(coalesce(sum("n_windows"), lit(0L)).as("w"),
            coalesce(sum("dropped_windows"), lit(0L)).as("d")).head()
        scaleDiag(s"d16_${tag}_windows") = r.getLong(0)
        scaleDiag(s"d16_${tag}_dropped") = r.getLong(1)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] d16 diag $tag failed: ${e.getMessage}")
      }
      if (budgetOk("d16_diag", 120)) {
        trimDiag("1x", ampDocs(1))
        trimDiag("10x", docs10x)
        trimDiag("1x_raw", docs1x)
        trimDiag("10x_raw", raw10)
      }
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] d16 failed: ${e.getMessage}")
    }

    // d17: fuzzy-decontamination trend (q_decontam_fuzzy's operator)
    // with the two growth axes ISOLATED. Train raw-replicates 10x
    // against the FIXED eval set: every copy re-hits the same benchmark
    // docs, so probe-join output and verified pairs grow ∝ the probe
    // side — the bigger-crawl case. Eval raw-replicates 10x against
    // FIXED train: band fan-out — each contaminated train doc now
    // collides with 10 eval copies, growing candidates and the
    // Jaccard-verify join on the eval axis. RAW (unsuffixed) copies on
    // purpose here: decorrelating the copies would erase the very
    // contamination signal the operator exists to find, and neither
    // axis self-joins (train bands only ever probe eval bands), so raw
    // replication cannot go quadratic.
    try {
      val train1x = docs1x.where(col("doc_id") % 10 =!= 0)
      val eval1x = docs1x.where(col("doc_id") % 10 === 0)
      def raw10Of(df: DataFrame): DataFrame = df
        .crossJoin(spark.range(10).select(col("id").as("_k")))
        .withColumn("doc_id", col("doc_id") + col("_k") * lit(1000000000L))
        .drop("_k")
      // tracked variant + release after the sink: each timed run frees
      // its own candidate/shingle checkpoints instead of leaning on the
      // next hygiene() pass — the long-lived-session usage the operator's
      // scaladoc prescribes, exercised on the bench's own channel
      def decontam(tr: DataFrame, ev: DataFrame): Unit = {
        val (df, rel) = Dedup.incrementalNearDupsTracked(tr, ev,
          threshold = 0.3, numPerms = 8, rowsPerBand = 2, shingleN = 3,
          maxBucket = 1000000)
        try exec(df) finally rel()
      }
      measure("d17_decontam_train10x", ctlTimes)(decontam(train1x, eval1x))
      measure("d17_decontam_train10x", times)(decontam(raw10Of(train1x), eval1x))
      measure("d17_decontam_eval10x", times)(decontam(train1x, raw10Of(eval1x)))
      ctlTimes.get("d17_decontam_train10x").foreach(v =>
        ctlTimes("d17_decontam_eval10x") = v)
      def dcDiag(tag: String, tr: DataFrame, ev: DataFrame): Unit = try {
        val (dcDf, dcRel) = Dedup.incrementalNearDupsTracked(tr, ev,
          threshold = 0.3, numPerms = 8, rowsPerBand = 2, shingleN = 3,
          maxBucket = 1000000)
        val r = try dcDf.agg(count(lit(1)).as("pairs"),
          countDistinct(col("batch_id")).as("contaminated")).head()
        finally dcRel()
        scaleDiag(s"d17_${tag}_pairs") = r.getLong(0)
        scaleDiag(s"d17_${tag}_contaminated") = r.getLong(1)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] d17 diag $tag failed: ${e.getMessage}")
      }
      if (budgetOk("d17_diag", 120)) {
        dcDiag("1x", train1x, eval1x)
        dcDiag("10x_train", raw10Of(train1x), eval1x)
        dcDiag("10x_eval", train1x, raw10Of(eval1x))
      }
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] d17 failed: ${e.getMessage}")
    }

    // d18: hashed NB classifier trend (q_nb_lang's operator) under
    // DECORRELATED 10x growth (ampDocs token suffixing): the raw
    // vocabulary grows 10x but the hashed feature space stays 64
    // buckets BY CONSTRUCTION — the trend certifies the hashing-trick
    // bound: training aggregates and the broadcast model are
    // scale-invariant, so wall tracks token count (linear), never the
    // vocabulary. Compare d14 (BPE), where vocabulary growth IS the
    // cost driver — this operator is the designed escape from that.
    try {
      measure("d18_nb_classifier", ctlTimes)(exec(
        graft.text.Classifier.nbPredict(docs1x)))
      measure("d18_nb_classifier", times)(exec(
        graft.text.Classifier.nbPredict(docs10x)))
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] d18 failed: ${e.getMessage}")
    }

    // d19: degree-oriented triangle counting (q_clustering_coeff's
    // operator) under DECORRELATED 10x growth: per-copy near-dup
    // structure is preserved and copies never band together, so the
    // candidate graph grows ~10x in edges at ~constant degree — wall
    // should track edge count (linear), never the clone-clique blow-up
    // rawCopies would manufacture. Diag counters record the
    // orientation's work bound on the real graph: oriented wedge pairs
    // (what the join enumerates) vs the unoriented wedge mass an
    // id-agnostic hub enumeration could touch.
    try {
      def triEdges(d: DataFrame) = Dedup.minhashCandidates(
        d, numPerms = 8, rowsPerBand = 2, maxBucket = 1000000)
      def tri(d: DataFrame) =
        graft.graph.Triangles.perNodeTriangles(triEdges(d))
      measure("d19_triangles", ctlTimes)(exec(tri(docs1x)))
      measure("d19_triangles", times)(exec(tri(docs10x)))
      def triDiag(tag: String, d: DataFrame): Unit = try {
        val e = triEdges(d)
        scaleDiag(s"d19_${tag}_edges") = e.count()
        scaleDiag(s"d19_${tag}_wedges_oriented") =
          graft.graph.Triangles.orientEdges(e)
            .groupBy("src").agg(count(lit(1)).as("od"))
            .select((sum(col("od") * (col("od") - 1)) / 2).cast("long"))
            .head().getLong(0)
        scaleDiag(s"d19_${tag}_wedges_unoriented") =
          graft.graph.Triangles.degrees(e)
            .select((sum(col("degree") * (col("degree") - 1)) / 2).cast("long"))
            .head().getLong(0)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] d19 diag $tag failed: ${e.getMessage}")
      }
      if (budgetOk("d19_diag", 90)) {
        triDiag("1x", docs1x)
        triDiag("10x", docs10x)
      }
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] d19 failed: ${e.getMessage}")
    }

    // d20: query-time BM25 retrieval (q_bm25_search's operator) under
    // CORRELATED 10x growth (rawCopies) — deliberately: a real corpus
    // 10x bigger has 10x longer postings for the SAME query terms, so
    // candidate sets and the per-query top-k input grow 10x while the
    // broadcast query table and the result stay fixed. Wall should
    // track the query-term postings mass (linear); ampDocs would
    // suffix the tokens and zero out every match.
    try {
      // The ONE q_bm25_search query-set definition — referencing it here
      // (instead of re-listing the tuples) keeps the d20 trend certified
      // against exactly the query set the correctness row runs.
      val d20Queries = ExtraQueries.searchQueries
      def search(d: DataFrame) =
        graft.text.TextAnalysis.bm25Search(d, d20Queries, topK = 10)
      measure("d20_bm25_search", ctlTimes)(exec(search(docs1x)))
      measure("d20_bm25_search", times)(exec(search(rawCopies(10))))
      def d20Diag(tag: String, d: DataFrame): Unit = try {
        val terms = d20Queries.flatMap(_._2.split(" ")).distinct
        scaleDiag(s"d20_${tag}_query_postings") = d
          .select(explode(split(col("text"), "\\s+")).as("t"))
          .where(col("t").isin(terms: _*)).count()
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] d20 diag $tag failed: ${e.getMessage}")
      }
      if (budgetOk("d20_diag", 60)) {
        d20Diag("1x", docs1x)
        d20Diag("10x", rawCopies(10))
      }
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] d20 failed: ${e.getMessage}")
    }

    // d21: byte-BPE encode at production merge-table scale (≥1k merges
    // through the broadcast merge-array dispatch — q_bpe_bytes_encode's
    // operator, whose correctness row unrolls only 6). The merge table
    // trains ONCE on the token-diversified corpus (ampDocs' vocabulary
    // is ~10x, so the merge space clears 1k; the 1x corpus exhausts at
    // ~240) via batched generations — 8 corpus aggregates, not 1024.
    // Two axes: encode 1x vs raw-replicated 10x with the SAME ≥1k table
    // (occurrence axis — vocab fixed, the fold runs per DISTINCT word,
    // so wall should grow like the join/agg side, well under 10x), and
    // 1x with the first-128 prefix vs the full table (merge-count axis —
    // the broadcast fold's plan depth is O(1) in the step count, so an
    // 8x longer table must not produce an 8x wall).
    try {
      import graft.text.Bpe
      val m1k = Bpe.batchedByteMerges(docs10x, 1024)
      scaleDiag("d21_merge_table") = m1k.size.toLong
      scaleDiag("d21_vocab_1x") = Bpe.byteWordCounts(docs1x).count()
      measure("d21_bpe1k_encode", ctlTimes)(exec(
        Bpe.byteEncodeCounts(docs1x, m1k)))
      measure("d21_bpe1k_encode", times)(exec(
        Bpe.byteEncodeCounts(rawCopies(10), m1k)))
      measure("d21_bpe1k_merges", ctlTimes)(exec(
        Bpe.byteEncodeCounts(docs1x, m1k.take(128))))
      measure("d21_bpe1k_merges", times)(exec(
        Bpe.byteEncodeCounts(docs1x, m1k)))
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] d21 failed: ${e.getMessage}")
    }

    // d22: incremental NEAR-dup trend (q_dedup_incr_near's operator,
    // reworked in r11 — suite cost #2 at ~9.5 s deserves its own line).
    // History FIXED at 1x (docs % 3 = 0), batch 10x-replicated with
    // DECORRELATED copies: the operator's claim is that the history
    // contributes one band-table build and per-batch work shuffles only
    // the batch side, so wall should scale ≈ batch while planted
    // candidates stay ≈ 1x (only copy-0 recrawls share shingles with
    // history — the copies' suffixed tokens share nothing, exactly the
    // no-clone-clique rationale of ampDocs). Diag attributes it:
    // band-bucket candidates and verified pairs at each scale.
    try {
      import graft.dedup.Dedup
      val history = ampDocs(1).where(col("doc_id") % 3 === 0)
        .select("doc_id", "text")
      def batchOf(docs: DataFrame): DataFrame =
        docs.where(col("doc_id") % 3 =!= 0).select("doc_id", "text")
          .unionByName(docs.where(col("doc_id") % 3 === 0 && col("doc_id") < 120)
            .select((col("doc_id") + lit(5000000L)).as("doc_id"),
              concat(col("text"), lit(" graftzz")).as("text")))
      val b1 = batchOf(ampDocs(1))
      val b10 = batchOf(docs10x)
      // tracked + release per run — the d17 rationale
      def incrNear(batch: DataFrame): Unit = {
        val (df, rel) = Dedup.incrementalNearDupsTracked(batch, history,
          maxBucket = 1000000)
        try exec(df) finally rel()
      }
      measure("d22_incr_near_dup", ctlTimes)(incrNear(b1))
      measure("d22_incr_near_dup", times)(incrNear(b10))
      def d22Diag(tag: String, batch: DataFrame): Unit = try {
        val hB = Dedup.lshBands(Dedup.minhashSignatures(history), 8, 2)
          .select(col("doc_id").as("hist_id"), col("band"), col("bkey"))
        val bB = Dedup.lshBands(Dedup.minhashSignatures(batch), 8, 2)
          .select(col("doc_id").as("batch_id"), col("band"), col("bkey"))
        scaleDiag(s"d22_${tag}_batch_rows") = batch.count()
        scaleDiag(s"d22_${tag}_candidates") = bB.join(hB, Seq("band", "bkey"))
          .select("batch_id", "hist_id").distinct().count()
        val (vDf, vRel) = Dedup.incrementalNearDupsTracked(batch, history,
          maxBucket = 1000000)
        scaleDiag(s"d22_${tag}_verified") = try vDf.count() finally vRel()
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] d22 diag $tag failed: ${e.getMessage}")
      }
      if (budgetOk("d22_diag", 120)) {
        d22Diag("1x", b1)
        d22Diag("10x", b10)
      }
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] d22 failed: ${e.getMessage}")
    }

    // d25: STREAMING near-dup ingest trend (q_stream_neardup's operator,
    // new in r15 — measured from birth, not after a verdict asks).
    // History FIXED at 1x, batch decorrelated ×10 — the d22 axes applied
    // to the stream form. Phase 1 (untimed) streams the history file
    // into the checkpointed bucket state; phase 2 (the measured point)
    // streams the batch file against it. The operator's claim: per-batch
    // work ∝ batch (scan-side band keys + one groupByKey shuffle +
    // same-bucket verify only), state ∝ history bands — unchanged across
    // scales — so phase-2 wall should read ≈ batch while emitted pairs
    // stay pinned (only copy-0 recrawls share shingles with history;
    // the suffixed copies band with nothing). Fresh dir per ATTEMPT, the
    // d11 discipline: a confirming re-run replays phase 1 + phase 2 from
    // scratch — resuming the first attempt's checkpoint would time a
    // no-op replay.
    try {
      val d25root = java.nio.file.Files.createTempDirectory("graft_d25").toString
      try {
        import org.apache.spark.sql.streaming.Trigger
        val hist25 = ampDocs(1).where(col("doc_id") % 3 === 0)
          .select("doc_id", "text")
        def batchOf25(docs: DataFrame): DataFrame =
          docs.where(col("doc_id") % 3 =!= 0).select("doc_id", "text")
            .unionByName(docs.where(col("doc_id") % 3 === 0 && col("doc_id") < 120)
              .select((col("doc_id") + lit(5000000L)).as("doc_id"),
                concat(col("text"), lit(" graftzz")).as("text")))
        val b25_1 = batchOf25(ampDocs(1))
        val b25_10 = batchOf25(docs10x)
        var d25Attempt = 0
        def d25(tag: String, batch: DataFrame): Option[Double] =
          try {
            d25Attempt += 1
            val dir = s"$d25root/${tag}_a$d25Attempt"
            new java.io.File(s"$dir/in").mkdirs()
            def stageFile(df: DataFrame, name: String): Unit = {
              val tmpd = s"$dir/_w_$name"
              df.coalesce(1).write.mode("overwrite").parquet(tmpd)
              val part = new java.io.File(tmpd).listFiles()
                .find(f => f.getName.startsWith("part-") &&
                  f.getName.endsWith(".parquet"))
                .getOrElse(sys.error(s"no part file under $tmpd"))
              java.nio.file.Files.move(part.toPath,
                java.nio.file.Paths.get(s"$dir/in/$name.parquet"))
              rmrf(new java.io.File(tmpd))
            }
            def run(): Unit = {
              val es = graft.streaming.EventStreams
              es.withStagedState(spark, s"$dir/in") {
                val q = graft.streaming.StreamDedup.nearDupPairs(
                    spark.readStream.schema("doc_id BIGINT, text STRING")
                      .parquet(s"$dir/in/*.parquet"),
                    threshold = 0.8, maxBucket = 1000000)
                  .writeStream.format("parquet")
                  .option("path", s"$dir/sink")
                  .option("checkpointLocation", s"$dir/ckpt")
                  .outputMode("append").trigger(Trigger.AvailableNow()).start()
                es.awaitBounded(q) // shared policy
              }
            }
            stageFile(hist25, "hist")
            run() // phase 1: history into the bucket state (untimed)
            stageFile(batch, "batch")
            scaleDiag(s"d25_${tag}_batch_rows") = batch.count()
            hygiene(spark) // state reloads from the checkpoint, as in d11
            val t = time(run()) // phase 2: the measured batch pass
            scaleDiag(s"d25_${tag}_pairs") = spark.read.parquet(s"$dir/sink")
              .select("batch_id", "hist_id").distinct().count()
            Some(t)
          } catch { case NonFatal(e) =>
            System.err.println(s"[bench] d25 $tag failed: ${e.getMessage}")
            None
          }
        // rerun funding gate, the d11 rationale: bandGuarded prices only
        // the timed phase 2, but a replay also pays staging + phase 1
        def d25Rerun(tag: String, batch: DataFrame): Option[Double] =
          if (remainingS >= 150) d25(tag, batch) else None
        if (budgetOk("d25_stream_neardup", 240)) {
          d25("1x", b25_1).foreach(t => ctlTimes("d25_stream_neardup") =
            bandGuarded("d25_stream_neardup_1x", Seq(t),
              () => d25Rerun("1x", b25_1)))
          d25("10x", b25_10).foreach(t => times("d25_stream_neardup") =
            bandGuarded("d25_stream_neardup_10x", Seq(t),
              () => d25Rerun("10x", b25_10)))
        }
      } finally rmrf(new java.io.File(d25root))
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] d25 failed: ${e.getMessage}")
    }

    // d25b: TTL near-dup state stays BOUNDED across micro-batches
    // (r15 verdict #5) — counters only, untimed. Four staged files with
    // event times advancing past the 2 h horizon, one AvailableNow run
    // each through the TTL path and the NoTimeout path
    // (maxFilesPerTrigger=1 → one micro-batch per file). The TTL claim,
    // pinned by the state-store's own numRowsTotal metric: buckets whose
    // docs all aged out are REMOVED, so final TTL state rows sit well
    // under the NoTimeout total — and re-crawls of beyond-horizon
    // history (f3's copies of f1 docs) pair ONLY on the NoTimeout path,
    // while in-horizon re-crawls (f2's copies of f1) pair on both.
    try {
      val root25b = java.nio.file.Files.createTempDirectory("graft_d25b").toString
      try {
        import org.apache.spark.sql.streaming.Trigger
        val base25 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
        def at25(h: Double) = new java.sql.Timestamp(
          base25.getTime + (h * 3600000).toLong)
        def recrawls(lo: Int, hi: Int, h: Double): DataFrame =
          docs1x.where(col("doc_id") % 3 === 0 &&
              col("doc_id") >= lo && col("doc_id") < hi)
            .select((col("doc_id") + lit(5000000L)).as("doc_id"),
              concat(col("text"), lit(" graftzz")).as("text"),
              lit(at25(h)).as("ts"))
        // Spacing note: the watermark LAGS one micro-batch (batch N runs
        // with the watermark committed at the end of batch N-1), so the
        // divergence batch f3 must arrive when the PREVIOUS batch's max
        // event time already put f1 past the horizon — f2 at +2.5h does
        // that (f1 expiry = +2h < 2.5h); the first d25b cut placed f2 at
        // +1.5h and the two paths tied pair-for-pair.
        val f1 = docs1x.where(col("doc_id") % 3 === 0)
          .select(col("doc_id"), col("text"), lit(at25(0)).as("ts"))
        val f2 = docs1x.where(col("doc_id") % 3 === 1)
          .select(col("doc_id"), col("text"), lit(at25(2.5)).as("ts"))
          .unionByName(recrawls(0, 120, 2.5)) // in-horizon: pairs on BOTH paths
        val f3 = docs1x.where(col("doc_id") % 3 === 2)
          .select(col("doc_id"), col("text"), lit(at25(5.0)).as("ts"))
          .unionByName(recrawls(120, 240, 5.0)) // f1 aged out: NoTimeout-only pairs
        // f4: inert driver batch (reversed text shares no shingles) —
        // its watermark (base+7.5h) lets the timeout pass REMOVE the
        // aged buckets so the final numRowsTotal reflects eviction
        val f4 = docs1x.where(col("doc_id") % 3 === 1 && col("doc_id") < 30)
          .select((col("doc_id") + lit(7000000L)).as("doc_id"),
            reverse(col("text")).as("text"), lit(at25(7.5)).as("ts"))
        def run25b(tag: String, ttl: Boolean): Unit = {
          val dir = s"$root25b/$tag"
          new java.io.File(s"$dir/in").mkdirs()
          Seq(f1 -> "f1", f2 -> "f2", f3 -> "f3", f4 -> "f4")
            .zipWithIndex.foreach { case ((df, name), i) =>
              val tmpd = s"$dir/_w_$name"
              df.coalesce(1).write.mode("overwrite").parquet(tmpd)
              val part = new java.io.File(tmpd).listFiles()
                .find(f => f.getName.startsWith("part-") &&
                  f.getName.endsWith(".parquet"))
                .getOrElse(sys.error(s"no part file under $tmpd"))
              val dst = java.nio.file.Paths.get(s"$dir/in/$name.parquet")
              java.nio.file.Files.move(part.toPath, dst)
              // explicit mod-time order: the file source triggers oldest
              // first, and sub-ms writes could otherwise tie
              dst.toFile.setLastModified(1000000000000L + i * 60000L)
              rmrf(new java.io.File(tmpd))
            }
          val src = spark.readStream
            .schema("doc_id BIGINT, text STRING, ts TIMESTAMP")
            .option("maxFilesPerTrigger", "1")
            .parquet(s"$dir/in/*.parquet")
          val pairs =
            if (ttl) graft.streaming.StreamDedup.nearDupPairsTtl(
              src, tsCol = "ts", horizonMs = 2L * 3600 * 1000,
              threshold = 0.8, maxBucket = 1000000)
            else graft.streaming.StreamDedup.nearDupPairs(
              src.drop("ts"), threshold = 0.8, maxBucket = 1000000)
          val es = graft.streaming.EventStreams
          val q = es.withStagedState(spark, s"$dir/in") {
            val q0 = pairs.writeStream.format("parquet")
              .option("path", s"$dir/sink")
              .option("checkpointLocation", s"$dir/ckpt")
              .outputMode("append").trigger(Trigger.AvailableNow()).start()
            es.awaitBounded(q0)
            q0
          }
          val stateRows = q.recentProgress.reverse
            .find(p => p.stateOperators != null && p.stateOperators.nonEmpty)
            .map(_.stateOperators(0).numRowsTotal).getOrElse(-1L)
          scaleDiag(s"d25b_${tag}_state_rows") = stateRows
          scaleDiag(s"d25b_${tag}_pairs") = spark.read.parquet(s"$dir/sink")
            .select("batch_id", "hist_id").distinct().count()
        }
        if (budgetOk("d25b_ttl_trend", 150)) {
          run25b("ttl", ttl = true)
          run25b("nottl", ttl = false)
        }
      } finally rmrf(new java.io.File(root25b))
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] d25b failed: ${e.getMessage}")
    }

    // d23: full-PSL registered-domain trend (q_psl_domains' operator,
    // r12 verdict #4: the operator was plan-audited but had no measured
    // line). DISTINCT hosts ×10 with DECORRELATED copies — the copy
    // label is baked INSIDE the leftmost label (c<k>-prefix), so label
    // counts, rule matches and the candidate-form shape are
    // copy-invariant while distinct hosts grow exactly 10×. The
    // operator's claim: work ∝ distinct hosts × ≤(2·labels−1) candidate
    // forms through ONE broadcast join against the fixed 9.5k-rule
    // table and one host-keyed partial agg — wall should read ≈10× with
    // candidate_forms exactly 10× and the rule broadcast unchanged. The
    // host mix cycles every rule class (plain .com, multi-label ICANN,
    // wildcard *.ck, PRIVATE-section github.io, implicit-* unknown TLD).
    try {
      import graft.text.Urls
      def pslHosts(n: Int): DataFrame = {
        val base = docs1x.select(col("doc_id"), col("source"))
          .crossJoin(spark.range(n).select(col("id").as("_k")))
        def h(c: org.apache.spark.sql.Column): DataFrame =
          base.select(c.as("host"))
        h(concat(lit("c"), col("_k"), lit("-www.example-"), col("source"),
            lit(".com")))
          .unionByName(h(concat(lit("c"), col("_k"), lit("-site"),
            col("doc_id") % 5000, lit(".co.uk"))))
          .unionByName(h(concat(lit("c"), col("_k"), lit("-zone"),
            col("doc_id") % 1000, lit(".ck"))))
          .unionByName(h(concat(lit("c"), col("_k"), lit("-user"),
            col("doc_id") % 997, lit(".github.io"))))
          .unionByName(h(concat(lit("c"), col("_k"), lit("-deep.foo"),
            col("doc_id") % 499, lit(".bar.unknowntld"))))
      }
      val h1 = pslHosts(1)
      val h10 = pslHosts(10)
      measure("d23_psl_domains", ctlTimes)(exec(Urls.registeredDomainsPsl(h1)))
      measure("d23_psl_domains", times)(exec(Urls.registeredDomainsPsl(h10)))
      def pslDiag(tag: String, hosts: DataFrame): Unit = try {
        val hp = hosts.select(lower(col("host")).as("h")).distinct()
          .withColumn("n", size(split(col("h"), "\\.")))
        val r = hp.agg(count(lit(1)).as("hosts"),
          coalesce(sum(col("n") * 2 - 1), lit(0L)).as("forms")).head()
        scaleDiag(s"d23_${tag}_distinct_hosts") = r.getLong(0)
        scaleDiag(s"d23_${tag}_candidate_forms") = r.getLong(1)
        scaleDiag(s"d23_${tag}_out_rows") =
          Urls.registeredDomainsPsl(hosts).count()
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] d23 diag $tag failed: ${e.getMessage}")
      }
      if (budgetOk("d23_diag", 90)) {
        pslDiag("1x", h1)
        pslDiag("10x", h10)
      }
      scaleDiag("d23_psl_rules") = Urls.pslRules.size.toLong
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] d23 failed: ${e.getMessage}")
    }

    // d24: HTML main-text extraction trend (round 13b's operator family)
    // — pure scan-side scalar regex/HOF work, so wall must read ≈10× for
    // 10× pages with zero shuffle on either side (the noop sink sees a
    // bare project). Copies are DECORRELATED by baking the copy index
    // into the title and footer link text (page bytes differ per copy;
    // structure and the density gate's keep/drop pattern are
    // copy-invariant). Diag pins the gate itself: pages, main-text chars
    // and blocks_kept must all read exactly 10×.
    try {
      import graft.text.Html
      def pages(n: Int): DataFrame =
        docs1x.select(col("doc_id"), col("source"), col("text"))
          .crossJoin(spark.range(n).select(col("id").as("_k")))
          .withColumn("html", concat(
            lit("<html><head><title>c"), col("_k"), lit(" "), col("source"),
            lit("</title><style>p { margin: 0 }</style></head><body>"),
            lit("<nav><a href=\"/\">Home</a> <a href=\"/t\">Tags</a> " +
              "<a href=\"/a\">About</a></nav><h1>Doc "), col("doc_id"),
            lit("</h1><p>"),
            replace(col("text"), lit("\n"), lit("</p><p>")),
            lit("</p><script>var id = "), col("doc_id"),
            lit(";</script><footer><a href=\"/c\">copy "), col("_k"),
            lit("</a> <a href=\"/p\">Privacy</a></footer></body></html>")))
      val p1 = pages(1)
      val p10 = pages(10)
      def run(df: DataFrame): DataFrame =
        df.select(md5(Html.htmlExtract(col("html"))).as("e"),
          md5(Html.htmlMainText(col("html"))).as("m"))
      measure("d24_html_extract", ctlTimes)(exec(run(p1)))
      measure("d24_html_extract", times)(exec(run(p10)))
      def htmlDiag(tag: String, df: DataFrame): Unit = try {
        val r = df.agg(count(lit(1)).as("pages"),
          sum(length(Html.htmlMainText(col("html")))).as("main_chars"),
          sum(Html.mainBlocksKept(col("html")).cast("long")).as("kept"))
          .head()
        scaleDiag(s"d24_${tag}_pages") = r.getLong(0)
        scaleDiag(s"d24_${tag}_main_chars") = r.getLong(1)
        scaleDiag(s"d24_${tag}_blocks_kept") = r.getLong(2)
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] d24 diag $tag failed: ${e.getMessage}")
      }
      if (budgetOk("d24_diag", 60)) {
        htmlDiag("1x", p1)
        htmlDiag("10x", p10)
      }
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] d24 failed: ${e.getMessage}")
    }

    // d4: Structured Streaming at scale — the same watermarked
    // hourly-window plan through REAL AvailableNow micro-batch runs at 1x
    // and 10x staged events. Copies shift ts by k*(span+2h) so each
    // copy's windows are disjoint: state rows (windows x event_types)
    // grow 10x alongside input rows — a state-store scaling trend, not
    // just source throughput. Staging lives outside scratchRoot (hygiene
    // deletes that between runs); each measured run gets a fresh
    // sink+checkpoint or the second run would be a no-op replay.
    val d4root = java.nio.file.Files.createTempDirectory("graft_d4").toString
    try {
      // normalize first (raw ts dtype varies by testdata vintage), shift in
      // long-nanos space, stage with a TimestampType ts readEvents re-reads
      val normEv = Tables.normalizeEvents(
        spark.read.parquet(s"$sfDir/events.parquet"))
      val mm = normEv.agg(min("ts_ns"), max("ts_ns")).head()
      val spanNs = mm.getLong(1) - mm.getLong(0) + 2L * 3600 * 1000000000L
      val ev10xRaw = normEv
        .crossJoin(spark.range(10).select(col("id").as("_k")))
        .withColumn("event_id", col("event_id") + col("_k") * lit(1000000000L))
        .withColumn("ts_ns", col("ts_ns") + col("_k") * lit(spanNs))
        .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000")))
        .drop("_k", "ts_ns")
      normEv.drop("ts_ns").write.mode("overwrite").parquet(s"$d4root/in1x")
      ev10xRaw.write.mode("overwrite").parquet(s"$d4root/in10x")
      var d4run = 0
      def streamOnce(tag: String): Unit = {
        import org.apache.spark.sql.streaming.Trigger
        d4run += 1
        val out = s"$d4root/run$d4run"
        val es = graft.streaming.EventStreams
        val stream = es.readEvents(spark, s"$d4root/in$tag", "*.parquet")
        es.withStagedState(spark, s"$d4root/in$tag") {
          val q = es.hourlyCounts(stream)
            .writeStream.format("parquet")
            .option("path", s"$out/sink").option("checkpointLocation", s"$out/ckpt")
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
          // the shared bounded-wait policy: a wedged micro-batch fails this
          // d-point (into skipped/failed) instead of hanging the bench into
          // the driver's hard kill — the rc=124 artifact-loss mode
          es.awaitBounded(q)
        }
      }
      measure("d4_stream_hourly", ctlTimes)(streamOnce("1x"))
      measure("d4_stream_hourly", times)(streamOnce("10x"))

      // d11: checkpoint-RESTART trend — the most expensive streaming
      // suite query's scale story. Phase 1 (untimed) streams all but the
      // last 2 hours of the staged input and checkpoints; phase 2 (the
      // measured point) resumes from that checkpoint with only the final
      // 2-hour slice newly arrived. The slice is the same absolute size
      // at both scales (the 10x copies are time-disjoint, so "the last
      // 2 hours" belongs to one copy), so the 10x/1x ratio isolates what
      // restart itself costs as processed HISTORY grows 10x: with a
      // 2-hour watermark the live state is horizon-bounded (windows
      // within watermark of the cut), and the checkpoint/sink logs grow
      // with batches, not rows — resume should read ≈flat, and a ratio
      // trending toward 10 would mean restore cost ∝ history (a real
      // scale bug). Counters record history/resume rows + live windows.
      // fresh dir per ATTEMPT: a band-guard confirming re-run must replay
      // phase 1 + phase 2 from scratch — reusing the first attempt's
      // checkpoint would time a no-op replay, not a restart
      var d11Attempt = 0
      def d11(tag: String): Option[Double] =
        try {
          import org.apache.spark.sql.streaming.Trigger
          d11Attempt += 1
          val df = spark.read.parquet(s"$d4root/in$tag")
          val mx = df.agg(max("ts")).head().getTimestamp(0)
          val cutTs = new java.sql.Timestamp(mx.getTime - 2L * 3600 * 1000)
          val dir = s"$d4root/restart_${tag}_a$d11Attempt"
          val hist = df.where(col("ts") <= lit(cutTs))
          val tail = df.where(col("ts") > lit(cutTs))
          hist.write.mode("overwrite").parquet(s"$dir/in")
          def run(): Unit = {
            val es = graft.streaming.EventStreams
            es.withStagedState(spark, s"$dir/in") {
              val q = es.hourlyCounts(
                  es.readEvents(spark, s"$dir/in", "*.parquet"))
                .writeStream.format("parquet")
                .option("path", s"$dir/sink")
                .option("checkpointLocation", s"$dir/ckpt")
                .outputMode("append").trigger(Trigger.AvailableNow()).start()
              es.awaitBounded(q) // shared policy
            }
          }
          run() // phase 1: build 1x/10x history into the checkpoint
          tail.write.mode("append").parquet(s"$dir/in")
          scaleDiag(s"d11_${tag}_hist_rows") = hist.count()
          scaleDiag(s"d11_${tag}_resume_rows") = tail.count()
          // live state at the cut: windows young enough to be unexpired
          // under the 2h watermark — the rows a resume must restore
          scaleDiag(s"d11_${tag}_state_windows") = hist
            .where(col("ts") > lit(new java.sql.Timestamp(
              cutTs.getTime - 3L * 3600 * 1000)))
            .select(date_trunc("hour", col("ts")), col("event_type"))
            .distinct().count()
          hygiene(spark)
          Some(time(run())) // phase 2: the measured resume
        } catch { case NonFatal(e) =>
          System.err.println(s"[bench] d11 $tag failed: ${e.getMessage}")
          None
        }
      // band-guarded like every other d-point (run 3 of r14 shipped a
      // 6.1 s 1x reading against a 2.7 s band with no attribution —
      // the one d-point that had bypassed the guard): the confirming
      // run replays the WHOLE phase-1+phase-2 sequence in a fresh dir
      // the rerun thunk carries its own funding check: bandGuarded's
      // best*1.5+30 formula prices only the TIMED phase-2 resume, but a
      // d11 replay also pays untimed staging + phase-1 streaming +
      // count jobs (~60 s at 10x) — without this gate a late-run rerun
      // could blow past budgetS toward the driver's hard kill
      def d11Rerun(tag: String): Option[Double] =
        if (remainingS >= 120) d11(tag) else None
      if (budgetOk("d11_stream_restart", 180)) {
        d11("1x").foreach(t => ctlTimes("d11_stream_restart") =
          bandGuarded("d11_stream_restart_1x", Seq(t), () => d11Rerun("1x")))
        d11("10x").foreach(t => times("d11_stream_restart") =
          bandGuarded("d11_stream_restart_10x", Seq(t), () => d11Rerun("10x")))
      }
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] d4 staging failed: ${e.getMessage}")
    } finally rmrf(new java.io.File(d4root))
    hygiene(spark)
    b5PlanMatch
  }
}
