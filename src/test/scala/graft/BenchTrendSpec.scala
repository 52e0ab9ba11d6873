package graft

import scala.collection.mutable

/** The d-series runner's protocol on synthetic trend rows (no input
  * data): a side that never succeeds is recorded in `failed`, one good
  * run keeps the reading, a throwing diag costs only its own counters,
  * an unfundable budget lands in `skipped`, a shared control copies its
  * partner's 1x reading, and a replay stages every attempt in a fresh
  * directory.
  */
class BenchTrendSpec extends SparkSpec {

  private def run(rows: Bench.Trend*)
      : (mutable.Map[String, Double], mutable.Map[String, Double], mutable.Buffer[String]) = {
    val (times, ctl) = (mutable.LinkedHashMap[String, Double](),
      mutable.LinkedHashMap[String, Double]())
    val failed = mutable.ArrayBuffer[String]()
    // no row here writes under the scratch root, so it is never created
    val scratch = s"${System.getProperty("java.io.tmpdir")}/bench_trend_spec_unused"
    Bench.runTrends(spark, rows, scratch, times, ctl, failed)
    (times, ctl, failed)
  }
  private val ok = Bench.Timed(() => ())
  private val boom = Bench.Timed(() => sys.error("boom"))

  test("a side whose every run throws is absent and listed in failed") {
    val (times, ctl, failed) = run(Bench.Trend("t_fail", boom, boom))
    assert(!times.contains("t_fail") && !ctl.contains("t_fail"))
    assert(failed.toSeq == Seq("t_fail_1x", "t_fail_10x"))
  }

  test("a failed first run and a good second run keep the reading") {
    var calls = 0
    val flaky = Bench.Timed { () => calls += 1; if (calls == 1) sys.error("first run") }
    val (times, ctl, failed) = run(Bench.Trend("t_flaky", ok, flaky))
    assert(times.contains("t_flaky") && ctl.contains("t_flaky"))
    assert(failed.isEmpty)
    assert(calls == 3) // run 1 failed; run 2 read under 2 s, so run 3 followed
  }

  test("a throwing diag keeps the timed reading and drops only its counters") {
    val d = Bench.diag("tdiag", 0)(
      "1x" -> (() => Seq("n" -> 7L)),
      "10x" -> (() => sys.error("diag boom")))
    val (times, ctl, failed) = run(Bench.Trend("tdiag_row", ok, ok, diags = Seq(d)))
    assert(times.contains("tdiag_row") && ctl.contains("tdiag_row") && failed.isEmpty)
    assert(Bench.scaleDiag.get("tdiag_1x_n").contains(7L))
    assert(!Bench.scaleDiag.keys.exists(_.startsWith("tdiag_10x")))
  }

  test("an unfundable budget skips the row and its diag, not fails them") {
    var ran = false
    val side = Bench.Timed(() => ran = true)
    val d = Bench.diag("tpoor", 1e12)("1x" -> { () => ran = true; Seq("n" -> 1L) })
    val (times, ctl, failed) =
      run(Bench.Trend("tpoor_row", side, side, diags = Seq(d), budget = 1e12))
    assert(!ran && times.isEmpty && ctl.isEmpty && failed.isEmpty)
    assert(Bench.skipped.contains("tpoor_row") && Bench.skipped.contains("tpoor_diag"))
  }

  test("a shared control copies its partner's 1x reading, or its failure") {
    val (times, ctl, failed) = run(
      Bench.Trend("t_base", ok, ok),
      Bench.Trend("t_shared", Bench.SharesControl("t_base"), ok),
      Bench.Trend("t_broken", boom, ok),
      Bench.Trend("t_orphan", Bench.SharesControl("t_broken"), ok))
    assert(ctl("t_shared") == ctl("t_base") && times.contains("t_shared"))
    assert(!ctl.contains("t_orphan") && times.contains("t_orphan"))
    assert(failed.toSeq == Seq("t_broken_1x", "t_orphan_1x"))
  }

  test("a replay stages each attempt in a fresh directory and records its counters") {
    val dirs = mutable.ArrayBuffer[String]()
    def replay = Bench.Replay(dir => { dirs += dir; () => () },
      dir => Seq("attempt" -> dirs.indexOf(dir).toLong), rerunGate = 0)
    val (times, ctl, failed) = run(Bench.Trend("trep_row", replay, replay))
    assert(times.contains("trep_row") && ctl.contains("trep_row") && failed.isEmpty)
    assert(dirs.size == 2 && dirs.distinct.size == 2) // one run per side
    assert(Bench.scaleDiag.get("trep_1x_attempt").contains(0L))
    assert(Bench.scaleDiag.get("trep_10x_attempt").contains(1L))
  }
}
