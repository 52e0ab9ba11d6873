package graft

/** Registry meta-spec: every driver-gated query must execute at sf0.001
  * and produce rows (except the known-empty anti-join/except results on
  * this data). Catches silently-broken queries before the driver round.
  */
class QueriesSpec extends SparkSpec {

  private val knownEmpty = Set("q_except")

  test("every registered query executes and returns rows at sf0.001") {
    val failures = Queries.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val n = fn(spark, sfDir).count()
        if (n == 0 && !knownEmpty(name)) Some(s"$name: empty result") else None
      } catch {
        case e: Throwable => Some(s"$name: ${e.getClass.getSimpleName} ${e.getMessage}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("every query has an oracle, and oracle keys all resolve") {
    val qs = Queries.queries.keySet
    val os = Queries.oracleSql.keySet
    assert(os.subsetOf(qs), s"oracles without queries: ${os.diff(qs)}")
    assert(qs.subsetOf(os), s"queries without oracles (weaker rows-only check): ${qs.diff(os)}")
  }

  test("q_sort_total's DATE key ranks as the formatted-string key does") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import java.time.LocalDateTime
    val dir = "/tmp/graft_test/sort_total_dates"
    val days = Seq("0999-12-31", "1000-01-01", "1999-12-31", "2000-01-01", "9999-12-31")
      .map(d => Some(LocalDateTime.parse(s"${d}T00:00:00"))) :+ None
    // two rows a day, one at midnight and one just before the next day
    // with the smaller order key, so the time of day must not sort;
    // order keys also run against the date order
    val rows = days.zipWithIndex.flatMap { case (d, i) =>
      Seq(0, 1).map(j => org.apache.spark.sql.Row(100L - 10 * i - j, 2 - j,
        d.map(_.plusSeconds(j * 86399L)).orNull))
    }
    val schema = StructType(Seq(StructField("l_orderkey", LongType),
      StructField("l_linenumber", IntegerType), StructField("l_shipdate", TimestampNTZType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = Queries.fullRegistry("q_sort_total").fn(spark, dir)
    assert(got.columns.toSeq == Seq("l_orderkey", "l_linenumber", "ship", "rank"))
    val ship = date_format(col("l_shipdate"), "yyyy-MM-dd")
    val want = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), ship.as("ship"),
        row_number().over(Window.orderBy(ship, col("l_orderkey"), col("l_linenumber")))
          .cast("long").as("rank"))
    assert(got.collect().toSet == want.collect().toSet)
    assert(got.where(col("rank") === 1).head().isNullAt(2), "a null date ranks first")
    assert(got.where(col("rank") === 3).head().getString(2) == "0999-12-31")
  }

  test("entry() returns rows (driver t1 smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
