package graft

import scala.collection.mutable

/** The suite loop's protocol on synthetic keys (no input data): each
  * key body counts its calls and returns the reading it is told to, so
  * the run-count rules are checked without waiting for real seconds.
  */
class BenchSuiteSpec extends SparkSpec {

  private def run(keys: (String, () => Double)*)(
      rotate: String => Boolean = _ => false, reserveS: Double = 0)
      : (mutable.Map[String, Double], mutable.Buffer[String]) = {
    val results = mutable.LinkedHashMap[String, Double]()
    val failed = mutable.ArrayBuffer[String]()
    Bench.runSuite(spark, keys, results, failed, rotate, reserveS)
    (results, failed)
  }
  /** A key reading `secs` on every run, and its call counter. */
  private def key(secs: Double): (() => Double, () => Int) = {
    var calls = 0
    (() => { calls += 1; secs }, () => calls)
  }

  test("a throwing key lands in failed and costs only itself") {
    val (ok, _) = key(0.1)
    val (results, failed) = run(
      "t_suite_boom" -> (() => sys.error("boom")), "t_suite_ok" -> ok)()
    assert(failed.toSeq == Seq("t_suite_boom"))
    assert(results.keySet == Set("t_suite_ok"))
  }

  test("a rotated key lands in rotated and is never timed") {
    val (body, calls) = key(0.1)
    val (results, failed) = run("t_suite_rot" -> body)(rotate = _ == "t_suite_rot")
    assert(calls() == 0 && results.isEmpty && failed.isEmpty)
    assert(Bench.rotated.contains("t_suite_rot"))
  }

  test("an unfundable budget lands in skipped, not failed") {
    val (body, calls) = key(0.1)
    val (results, failed) = run("t_suite_poor" -> body)(reserveS = 1e12)
    assert(calls() == 0 && results.isEmpty && failed.isEmpty)
    assert(Bench.skipped.contains("t_suite_poor"))
  }

  test("an out-of-band reading buys exactly one confirming run") {
    Bench.outOfBand.clear()
    val band = Bench.bands("q_wordcount")
    val (body, calls) = key(band * 5.0)
    val (results, failed) = run("q_wordcount" -> body)()
    // two agreeing protocol runs, then the guard's one confirming run
    assert(calls() == 3 && failed.isEmpty)
    assert(Bench.outOfBand("q_wordcount").runs == Seq.fill(3)(band * 5.0))
    assert(results("q_wordcount") == band * 5.0)
    Bench.outOfBand.clear()
  }

  test("a q_stream_* key keeps min-of-2 at >=5 s") {
    val (body, calls) = key(6.0)
    val (results, _) = run("q_stream_t_suite" -> body)()
    assert(calls() == 2 && results("q_stream_t_suite") == 6.0)
  }

  test("a first run >=5 s on any other key is a single run") {
    val (body, calls) = key(6.0)
    val (results, _) = run("t_suite_long" -> body)()
    assert(calls() == 1 && results("t_suite_long") == 6.0)
  }

  test("two short runs disagreeing by more than half buy a third") {
    var calls = 0
    val (results, _) = run("t_suite_jitter" -> { () =>
      calls += 1; if (calls == 1) 1.0 else 0.4 })()
    assert(calls == 3 && results("t_suite_jitter") == 0.4)
  }
}
