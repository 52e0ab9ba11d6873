package graft

import org.scalatest.funsuite.AnyFunSuite

/** The band guard's contract (r13 verdict #1), tested without a Spark
  * session: a reading beyond BandFactor× its committed band buys one
  * confirming re-run, both readings land in `out_of_band`, and the final
  * reading is the min over all runs. Since r15 every out-of-band entry
  * also carries the machine probe taken at fire time (r14 verdict #2) —
  * -1/-1 when no probe function is wired (as here, no Spark session).
  * The bands file itself is pinned loadable and median-robust against
  * the r13 outliers, and the suite-tail rotation predicate (r14 verdict
  * #4) is pinned to never touch the stream family, ≥1 s keys, or
  * unbanded keys.
  */
class BenchBandSpec extends AnyFunSuite {

  test("bands resource loads and the r13 outlier keys carry sane medians") {
    val b = Bench.bands
    assert(b.size > 300, s"bands too small: ${b.size}")
    // the two keys BENCH_r13.json shipped as unattributable outliers —
    // the committed band must be the cross-round median, not the outlier
    assert(b("q_substring_trim_exact") < 20.0,
      s"trim_exact band poisoned: ${b("q_substring_trim_exact")}")
    assert(b("d22_incr_near_dup_10x") < 25.0,
      s"d22 band poisoned: ${b("d22_incr_near_dup_10x")}")
    // both scale sides present for a d-series key
    assert(b.contains("d1_dedup_corpus_1x") && b.contains("d1_dedup_corpus_10x"))
  }

  test("in-band readings pass through untouched, no re-run") {
    Bench.outOfBand.clear()
    var reran = false
    val band = Bench.bands("q_wordcount")
    val r = Bench.bandGuarded("q_wordcount", Seq(band * 1.5, band * 1.8),
      () => { reran = true; Some(0.0) })
    assert(r == band * 1.5 && !reran && Bench.outOfBand.isEmpty)
  }

  test("out-of-band reading re-runs once; both readings recorded; min wins") {
    Bench.outOfBand.clear()
    val band = Bench.bands("q_wordcount")
    // drift-window shape: first reading 5x band, confirming run in band
    val r = Bench.bandGuarded("q_wordcount", Seq(band * 5.0),
      () => Some(band * 0.9))
    assert(r == band * 0.9)
    assert(Bench.outOfBand("q_wordcount").runs == Seq(band * 5.0, band * 0.9))
    // regression shape: the confirming run agrees — both recorded, the
    // (still out-of-band) min stands
    Bench.outOfBand.clear()
    val r2 = Bench.bandGuarded("q_wordcount", Seq(band * 5.0),
      () => Some(band * 4.8))
    assert(r2 == band * 4.8)
    assert(Bench.outOfBand("q_wordcount").runs == Seq(band * 5.0, band * 4.8))
  }

  test("failed re-run keeps the original reading, still flagged") {
    Bench.outOfBand.clear()
    val band = Bench.bands("q_wordcount")
    val r = Bench.bandGuarded("q_wordcount", Seq(band * 5.0), () => None)
    assert(r == band * 5.0)
    assert(Bench.outOfBand("q_wordcount").runs == Seq(band * 5.0))
  }

  test("unknown key (new query this round) skips the guard") {
    Bench.outOfBand.clear()
    var reran = false
    val r = Bench.bandGuarded("q_definitely_new", Seq(1e9),
      () => { reran = true; Some(0.0) })
    assert(r == 1e9 && !reran && Bench.outOfBand.isEmpty)
  }

  test("guard fire stamps the machine probe (or -1 with no probe wired)") {
    Bench.outOfBand.clear()
    val band = Bench.bands("q_wordcount")
    // no Spark session in this spec → the default probes return None
    Bench.bandGuarded("q_wordcount", Seq(band * 5.0), () => None)
    val e = Bench.outOfBand("q_wordcount")
    val Seq(sort, hash, write) = Bench.lanes
    assert(Bench.lanes.map(l => l.name -> l.bandKey) == Seq("sort" -> "machine_probe",
      "hash" -> "machine_hash_probe", "write" -> "machine_write_probe"))
    assert(e.probes(0) == ((-1.0, -1.0)))
    assert(e.probes(1) == ((-1.0, -1.0)))
    assert(e.probes(2) == ((-1.0, -1.0)))
    // wired probe → index = probe / baseline, where the baseline prefers
    // the COMMITTED machine_probe band (cross-round) over the run's own
    // calibration — a round whose bands predate the probe falls back
    val saved = Bench.lanes
    try {
      Bench.lanes = Seq(
        sort.copy(probe = () => Some(1.5), calibration = Some(0.5)),
        hash.copy(probe = () => Some(2.0), calibration = Some(0.5)),
        write.copy(probe = () => Some(3.0), calibration = Some(1.0)))
      Bench.outOfBand.clear()
      Bench.bandGuarded("q_wordcount", Seq(band * 5.0), () => None)
      val e2 = Bench.outOfBand("q_wordcount")
      val baseline = Bench.bands.getOrElse("machine_probe", 0.5)
      val hBaseline = Bench.bands.getOrElse("machine_hash_probe", 0.5)
      val wBaseline = Bench.bands.getOrElse("machine_write_probe", 1.0)
      assert(e2.probes(0)._1 == 1.5 &&
        math.abs(e2.probes(0)._2 - 1.5 / baseline) < 1e-9)
      assert(e2.probes(1)._1 == 2.0 &&
        math.abs(e2.probes(1)._2 - 2.0 / hBaseline) < 1e-9)
      assert(e2.probes(2)._1 == 3.0 &&
        math.abs(e2.probes(2)._2 - 3.0 / wBaseline) < 1e-9)
    } finally {
      Bench.lanes = saved
      Bench.outOfBand.clear()
    }
  }

  test("warm zone (1.5–2x band) stamps probe indexes, no re-run, no fire") {
    Bench.outOfBand.clear()
    Bench.warmStamps.clear()
    val band = Bench.bands("q_wordcount")
    val saved = Bench.lanes
    try {
      val Seq(sort, hash, write) = saved
      Bench.lanes = Seq(
        sort.copy(probe = () => Some(1.0), calibration = Some(0.5)),
        hash.copy(probe = () => None),
        write.copy(probe = () => Some(2.0), calibration = Some(1.0)))
      var reran = false
      val r = Bench.bandGuarded("q_wordcount", Seq(band * 1.7),
        () => { reran = true; Some(0.0) })
      assert(r == band * 1.7 && !reran && Bench.outOfBand.isEmpty)
      val w = Bench.warmStamps("q_wordcount")
      assert(w.reading == band * 1.7 && w.band == band)
      val baseline = Bench.bands.getOrElse("machine_probe", 0.5)
      val wBaseline = Bench.bands.getOrElse("machine_write_probe", 1.0)
      assert(math.abs(w.indexes(0) - 1.0 / baseline) < 1e-9)
      assert(w.indexes(1) == -1.0) // unavailable lane reads -1, not 0
      assert(math.abs(w.indexes(2) - 2.0 / wBaseline) < 1e-9)
      // just-in-band and beyond-trip readings never land in warm
      Bench.warmStamps.clear()
      Bench.bandGuarded("q_wordcount", Seq(band * 1.4), () => None)
      assert(Bench.warmStamps.isEmpty)
      Bench.bandGuarded("q_wordcount", Seq(band * 2.5), () => Some(band))
      assert(Bench.warmStamps.isEmpty && Bench.outOfBand.nonEmpty)
    } finally {
      Bench.lanes = saved
      Bench.outOfBand.clear()
      Bench.warmStamps.clear()
    }
  }

  test("every timed suite key carries a committed band (r16 verdict #2)") {
    // Keys added since the last band regeneration go here — they run
    // unbanded ONE round (earning a band from that round's artifacts)
    // and must leave this list when bands are next regenerated. A key
    // missing from BOTH the bands file and this list means the bands
    // regeneration was skipped — exactly the staleness that let the
    // q_dedup_incr_near speedup sit unprotected after its fix (a
    // regression back to 6 s would have shipped under 2x the stale
    // band).
    val earningABand = Set.empty[String]
    val missing = Queries.queries.keySet
      .filterNot(Bench.bands.contains) -- earningABand
    assert(missing.isEmpty,
      s"suite keys with no committed band (regenerate dev/make_bands.py " +
        s"or list as band-earning): ${missing.toSeq.sorted.take(10)}")
    // the probe lanes are band-backed too — machine_index and the three
    // per-fire indexes all normalize against these denominators
    Seq("machine_probe", "machine_hash_probe", "machine_write_probe")
      .foreach { k => assert(Bench.bands.contains(k), s"no band for $k") }
    // d-series: the trend table is the one list of trend keys. Building
    // it with no session at all proves that reading its keys runs no
    // Spark job (every input is lazy), whatever the data directory.
    val keys = Bench.trendTable(null, "/nonexistent/sf", "/nonexistent/scratch")
      .map(_.key)
    assert(keys.distinct == keys, s"duplicate trend keys: ${keys.diff(keys.distinct)}")
    keys.foreach { k =>
      assert(Bench.bands.contains(s"${k}_1x"), s"no band for ${k}_1x")
      assert(Bench.bands.contains(s"${k}_10x"), s"no band for ${k}_10x")
    }
    // and every committed d-band belongs to a row (no retired trend key
    // left banded, no row-less band)
    val rowBands = keys.flatMap(k => Seq(s"${k}_1x", s"${k}_10x")).toSet
    val orphans = Bench.bands.keySet.filter(_.startsWith("d")) -- rowBands
    assert(orphans.isEmpty, s"d-series bands with no trend row: ${orphans.toSeq.sorted}")
  }

  test("rotation never touches stream keys, >=1s keys, or unbanded keys") {
    val b = Bench.bands
    assert(!Bench.rotatedOut("q_stream_attribution"))
    assert(!Bench.rotatedOut("q_substring_trim_exact")) // band ≈ 12 s
    assert(!Bench.rotatedOut("q_brand_new_query_without_a_band"))
    // the rotation halves partition the sub-second tail: if a parity is
    // derivable here, both halves are non-empty and rotated ⊂ sub-second
    Bench.rotationParity.foreach { _ =>
      val subSecond = b.keys.filter(k =>
        k.startsWith("q_") && !k.startsWith("q_stream") && b(k) < 1.0).toSeq
      val out = subSecond.filter(Bench.rotatedOut)
      assert(out.nonEmpty && out.size < subSecond.size,
        s"rotation split degenerate: ${out.size}/${subSecond.size}")
      assert(subSecond.filterNot(Bench.rotatedOut).nonEmpty)
    }
  }
}
