package graft

import java.nio.file.{Files, Path, Paths}

/** The B1–B6 gridmix pairs on sf0.001, built but never run: each
  * ours/control pair plans identically at both scales (the artifact's
  * `plan_match`), and a table that fails to load costs only its own
  * pair.
  */
class BenchGridmixSpec extends SparkSpec {

  private val pairTags = for {
    x <- Seq(1, 10)
    n <- Seq("b1_monster", "b2_full_sort", "b3_ref_select", "b4_text_sort", "b5_wordcount")
  } yield s"${n}_${x}x"

  test("every gridmix pair and b6 plan identically to their controls") {
    // the bench session renders plans in full, so plan_match never
    // compares two truncation points
    val conf = "spark.sql.maxMetadataStringLength"
    val saved = spark.conf.getOption(conf)
    spark.conf.set(conf, "100000")
    try {
      Seq(1, 10).foreach { x =>
        val pairs = Bench.gridmix(spark, sfDir, x)
        assert(pairs.map(_._1) == Seq("b1_monster", "b2_full_sort", "b3_ref_select",
          "b4_text_sort", "b5_wordcount"))
        pairs.foreach { case (n, ours, ctl) => Bench.checkPlanMatch(s"${n}_${x}x", ours, ctl) }
      }
      val (ours, ctl) = Bench.mrbench(spark, sfDir)
      Bench.checkPlanMatch("b6_mrbench_1x", ours, ctl)
      (pairTags :+ "b6_mrbench_1x").foreach { t =>
        assert(Bench.planMatches.get(t).contains(true), s"$t plans differ")
      }
    } finally saved.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
  }

  test("a missing table costs its own pair at 1x and at 10x, nothing else") {
    val dir = Files.createTempDirectory("bench_gridmix_spec")
    try {
      Tables.names.filterNot(_ == "events").foreach { t =>
        Files.copy(Paths.get(sfDir, s"$t.parquet"), dir.resolve(s"$t.parquet"))
      }
      Seq(1, 10).foreach { x =>
        assert(Bench.gridmix(spark, dir.toString, x).map(_._1) ==
          Seq("b1_monster", "b2_full_sort", "b3_ref_select", "b5_wordcount"), s"at ${x}x")
      }
    } finally {
      // the views the builder registered read the files deleted below
      for (t <- Seq("lineitem", "part", "documents"); v <- Seq(t, s"${t}10x"))
        spark.catalog.dropTempView(v)
      Files.list(dir).forEach((p: Path) => Files.delete(p))
      Files.delete(dir)
    }
  }
}
