package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, ShufflePartitionIdPassThrough}
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBusShim
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

class GlobalRankSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private lazy val jobs = graft.tools.JobCounter.attach(spark)

  /** The executed plans of the checkpoints `body` takes, in order. */
  private def checkpointPlans(body: => Unit): Seq[SparkPlan] = {
    val plans = scala.collection.mutable.Buffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f.endsWith("heckpoint")) plans.synchronized(plans += qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; ListenerBusShim.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    plans.synchronized(plans.toSeq)
  }

  /** The shuffle of the one checkpoint `body` takes. */
  private def rankShuffle(body: => Unit): ShuffleExchangeExec = {
    val plans = checkpointPlans(body)
    assert(plans.length == 1)
    collect(plans.head) { case e: ShuffleExchangeExec => e } match {
      case Seq(e) => e
      case other => fail(s"expected one shuffle, got ${other.length}")
    }
  }

  /** Ranks of `df` in `cols` order must equal a single-partition
    * row_number, with every column's value intact, through the packed key
    * (`packed`) or today's range exchange; the ranked schema must equal
    * the one today's path gives, which a trailing constant double key
    * forces without changing the order.
    */
  private def assertPackedRanks(df: DataFrame, cols: Seq[Column], packed: Boolean = true): Unit = {
    var got: DataFrame = null
    val shuffle = rankShuffle { got = GlobalRank.withGlobalRank(df, cols) }
    assert(shuffle.outputPartitioning.isInstanceOf[ShufflePartitionIdPassThrough] == packed,
      shuffle.outputPartitioning)
    val today = GlobalRank.withGlobalRank(df, cols :+ lit(0.5))
    assert(got.schema == today.schema)
    val want = df.withColumn("rank", row_number().over(Window.orderBy(cols: _*)).cast("long"))
    assert(got.collect().toSet == want.collect().toSet)
    assert(today.collect().toSet == want.collect().toSet)
  }

  /** `cols`-ordered ranks of `df` against a single-partition row_number. */
  private def assertRanksMatchRowNumber(df: DataFrame, cols: Seq[Column], key: String): Unit = {
    val got = GlobalRank.withGlobalRank(df, cols).select(key, "rank")
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    val want = df.withColumn("rank", row_number().over(Window.orderBy(cols: _*)).cast("long"))
      .select(key, "rank").collect().map(r => r.get(0) -> r.getLong(1)).toMap
    assert(got.values.toSeq.sorted == (1L to df.count()))
    assert(got == want)
  }

  test("a ranked write runs 4 jobs: no job only counts partition rows") {
    import spark.implicits._
    // the range sampler, the range exchange's map side, the sort that
    // materializes the checkpoint and returns the counts, and the write
    val df = (1 to 400).map(i => (i % 7, i.toLong)).toDF("g", "id")
    val (_, n) = jobs.count(GlobalRank.withGlobalRank(df, Seq(col("g"), col("id")))
      .write.format("noop").mode("overwrite").save())
    assert(n == 4)
  }

  test("ranks equal row_number with 3 leading keys over 8 partitions, and on an empty frame") {
    import spark.implicits._
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "8")
    val df = (1 to 60).map(i => (Seq("a", "b", "c")(i % 3), i.toLong)).toDF("lead", "id")
      .repartition(5)
    assertRanksMatchRowNumber(df, Seq(col("lead").desc, col("id")), "id")
    assert(GlobalRank.withGlobalRank(df.limit(0), Seq(col("id"))).count() == 0)
  }

  test("ranks equal row_number under reliable checkpoints") {
    import spark.implicits._
    spark.sparkContext.setCheckpointDir("/tmp/graft_test/rank_reliable_ckpt")
    spark.conf.set(Checkpoints.ReliableKey, "true")
    try {
      val df = (1 to 90).map(i => (i % 4, i.toLong)).toDF("lead", "id")
      assertRanksMatchRowNumber(df, Seq(col("lead"), col("id").desc), "id")
    } finally spark.conf.unset(Checkpoints.ReliableKey)
  }

  test("packed key: (date, long, int) ascending ranks as row_number, keys decode exactly") {
    import spark.implicits._
    val df = (1 to 300).map(i => (i, (i % 11 - 5).toLong, i % 37))
      .toDF("r", "l", "d")
      .select(col("r"), expr("date_add(date'2020-01-01', d - 20)").as("day"),
        col("l"), (col("r") * 3).as("n"))
    assertPackedRanks(df, Seq(col("day"), col("l"), col("n")))
    // an input that shuffles would shuffle twice for the sampling pass
    assertPackedRanks(df.repartition(3), Seq(col("day"), col("l"), col("n")), packed = false)
  }

  test("packed key: mixed desc and asc_nulls_last keys with nulls in every key") {
    import spark.implicits._
    val df = (1 to 240).map { i =>
      (i, if (i % 9 == 0) None else Some(i % 6), if (i % 7 == 0) None else Some((i % 13).toLong),
        if (i % 5 == 0) None else Some(i % 4 == 0), if (i == 17) None else Some(i))
    }.toDF("r", "a", "b", "f", "id")
      .withColumn("day", when(col("r") % 8 =!= 0, expr("date_add(date'1969-12-25', r % 10)")))
    assertPackedRanks(df, Seq(col("a").desc, col("b").asc_nulls_last, col("f").desc_nulls_first,
      col("day").asc_nulls_last, col("id").desc))
  }

  test("packed key: negative values, byte and short keys, timestamp keys") {
    import spark.implicits._
    val df = (1 to 200).map(i => (i, (i % 5 - 2).toByte, (i % 7 - 3).toShort, (i - 100) * 86400000L + i))
      .toDF("r", "b", "s", "ms")
      .select(col("r"), col("b"), col("s"), timestamp_millis(col("ms")).as("ts"),
        timestamp_millis(-col("ms")).cast("timestamp_ntz").as("ntz"), (-col("r")).as("neg"))
    assertPackedRanks(df, Seq(col("b").desc, col("s"), col("ts"), col("neg")))
    assertPackedRanks(df, Seq(col("ntz").desc, col("r")))
  }

  test("packed key: an all-null key, a non-column key, and a single-row frame") {
    import spark.implicits._
    val df = (1 to 50).map(i => (i, Option.empty[Int], i % 3)).toDF("r", "none", "g")
    assertPackedRanks(df, Seq(col("none"), col("g") * -2, col("r").desc))
    assertPackedRanks(df.where(col("r") === 7), Seq(col("g"), col("r")))
  }

  test("full-range LONG keys cannot pack, fall back and still rank correctly") {
    import spark.implicits._
    val df = (1 to 60).map { i =>
      val ext = if (i % 2 == 0) Long.MinValue else Long.MaxValue
      (i, ext + (if (i % 2 == 0) i else -i), if (i % 3 == 0) Long.MaxValue else Long.MinValue)
    }.toDF("r", "a", "b")
    assertPackedRanks(df, Seq(col("b"), col("a")), packed = false)
    // the sampling pass that found the fields too wide is one job on top
    // of today's four
    val (_, n) = jobs.count(GlobalRank.withGlobalRank(df, Seq(col("b"), col("a")))
      .write.format("noop").mode("overwrite").save())
    assert(n == 5)
  }

  test("q_sort_total shuffles only the packed key and radix-sorts it; q_keyfield_sort keeps the range exchange") {
    var sorted: DataFrame = null
    val shuffle = rankShuffle { sorted = graft.Queries.fullRegistry("q_sort_total").fn(spark, sfDir) }
    assert(shuffle.outputPartitioning.isInstanceOf[ShufflePartitionIdPassThrough])
    assert(shuffle.child.output.map(_.name) == Seq("_nk"))
    val plans = checkpointPlans { graft.Queries.fullRegistry("q_sort_total").fn(spark, sfDir) }
    val sorts = plans.flatMap(p => collect(p) { case s: SortExec => s })
    assert(sorts.length == 1)
    assert(sorts.head.sortOrder.map(o => (o.dataType, o.nullable)) == Seq((LongType, false)))
    assert(sorted.schema == StructType(Seq(StructField("l_orderkey", LongType),
      StructField("l_linenumber", IntegerType), StructField("ship", StringType),
      StructField("rank", LongType, nullable = false))))
    val keyfield = rankShuffle { graft.Queries.fullRegistry("q_keyfield_sort").fn(spark, sfDir) }
    assert(keyfield.outputPartitioning.isInstanceOf[RangePartitioning])
  }

  test("withGlobalCumSum counts a null weight as 0, also over an all-null partition") {
    import spark.implicits._
    val rows = (1 to 80).map(i => (i.toLong, if (i <= 30) None else Some(i.toLong)))
    val got = GlobalRank.withGlobalCumSum(rows.toDF("k", "w"), Seq(col("k")), "w")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val want = rows.map(_._1).zip(rows.scanLeft(0L)(_ + _._2.getOrElse(0L))).toMap
    assert(got == want)
  }

  test("distributed global rank equals single-partition row_number") {
    val li = graft.Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    val cols = Seq(col("l_extendedprice").desc, col("l_orderkey").asc,
      col("l_linenumber").asc)
    val dist = GlobalRank.withGlobalRank(li, cols)
      .select("l_orderkey", "l_linenumber", "rank")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val window = li
      .withColumn("rank", row_number().over(Window.orderBy(cols: _*)).cast("long"))
      .select("l_orderkey", "l_linenumber", "rank")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(dist == window)
  }

  test("broadcast-offset path (forced) matches the when-chain path") {
    val li = graft.Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"))
    val cols = Seq(col("l_orderkey").asc, col("l_linenumber").asc)
    val chain = GlobalRank.withGlobalRank(li, cols)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val bcast = GlobalRank.withGlobalRank(li, cols, maxWhenChain = 0)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(bcast == chain)
  }

  test("2000-partition rank takes the broadcast path and stays correct") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "2000")
      val li = graft.Tables.load(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"))
      val cols = Seq(col("l_orderkey").asc, col("l_linenumber").asc)
      val ranked = GlobalRank.withGlobalRank(li, cols)
      val ranks = ranked.select("rank").collect().map(_.getLong(0)).sorted
      assert(ranks.toSeq == (1L to li.count()).toSeq)
      // spot-check the head matches the window ranking
      val first = ranked.orderBy("rank").limit(3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      val expect = li.orderBy(cols: _*).limit(3).collect()
        .zipWithIndex.map { case (r, i) => (r.getLong(0), r.getInt(1), i + 1L) }.toSeq
      assert(first == expect)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("tracked release: no graft-owned persisted RDD survives a ranked write") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "n_chars")
    val tracked = GlobalRank.withGlobalRankTracked(docs,
      Seq(col("n_chars").desc, col("doc_id").asc))
    val out = "/tmp/graft_test/rank_release"
    tracked.df.write.mode("overwrite").parquet(out) // materialize downstream
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty,
      "the checkpoint should be live while the ranked frame is in use")
    tracked.release()
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "release() must leave no graft-owned persisted RDD behind")
    // the written result is intact and contiguous
    val ranks = spark.read.parquet(out).select("rank")
      .collect().map(_.getLong(0)).sorted
    assert(ranks.toSeq == (1L to docs.count()).toSeq)
  }

  test("ranks are contiguous 1..n and partitioning-invariant") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "n_chars")
    val cols = Seq(col("n_chars").desc, col("doc_id").asc)
    val r1 = GlobalRank.withGlobalRank(docs, cols)
    val r2 = GlobalRank.withGlobalRank(docs.repartition(17), cols)
    val ranks1 = r1.select("rank").collect().map(_.getLong(0)).sorted
    assert(ranks1.toSeq == (1L to docs.count()).toSeq)
    val m1 = r1.select("doc_id", "rank").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m2 = r2.select("doc_id", "rank").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m1 == m2)
  }

  test("interpolatedQuantiles matches hand math and the built-in percentile") {
    import spark.implicits._
    // group a: sorted (1,2,3,4,5) → p .5 = 3, p .25 = 2; group b: (10,20)
    // → p .75 = 10 + .75*10 = 17.5
    val df = (Seq((1, "a"), (4, "a"), (2, "a"), (5, "a"), (3, "a"),
      (20, "b"), (10, "b"))).zipWithIndex
      .map { case ((v, g), i) => (i.toLong, g, v) }
      .toDF("doc_id", "grp", "v")
    val got = GlobalRank.interpolatedQuantiles(df, Seq(0.25, 0.5, 0.75),
        group = "grp", value = "v", id = "doc_id")
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(got(("a", 0.5)) == 3.0 && got(("a", 0.25)) == 2.0)
    assert(got(("b", 0.75)) == 17.5)
    // cross-check vs Spark's exact percentile (same interpolation family)
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val mine = GlobalRank.interpolatedQuantiles(docs, Seq(0.1, 0.5, 0.9),
        group = "lang", value = "n_chars", id = "doc_id")
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val builtin = docs.groupBy("lang")
      .agg(percentile(col("n_chars"), lit(Array(0.1, 0.5, 0.9))).as("q"))
      .collect().flatMap(r => Seq(0.1, 0.5, 0.9).zip(r.getSeq[Double](1))
        .map { case (p, v) => (r.getString(0), p) -> v }).toMap
    mine.foreach { case (k, v) => assert(math.abs(v - builtin(k)) < 1e-6, k) }
  }

  test("robustStats: hand-computed median/MAD/winsorized mean with an outlier") {
    import spark.implicits._
    // values 1..9 plus outlier 1000: median 5.5; p05 = 1.45, p95 = 554.05
    // → winsorized sum 1.45 + (2+..+9) + 554.05 = 599.5, mean 59.95;
    // |x−5.5| sorted gives MAD 2.5. The raw mean (105.4) is outlier-blown —
    // the robust profile is not.
    val df = ((1 to 9).map(_.toLong) :+ 1000L).zipWithIndex
      .map { case (v, i) => (i.toLong, "g", v) }.toDF("doc_id", "grp", "v")
    val r = GlobalRank.robustStats(df, group = "grp", value = "v",
      id = "doc_id").head()
    assert(r.getLong(1) == 10L)
    assert(r.getDouble(2) == 5.5)
    assert(r.getDouble(3) == 2.5)
    assert(r.getDouble(4) == 59.95)
  }

  test("interpolatedQuantiles: p=0 is min, p=1 is max, monotone in p") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
    val qs = GlobalRank.interpolatedQuantiles(docs,
        Seq(0.0, 0.2, 0.4, 0.6, 0.8, 1.0),
        group = "lang", value = "n_chars", id = "doc_id")
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2))
      .toMap
    val ext = docs.groupBy("lang")
      .agg(min("n_chars").as("mn"), max("n_chars").as("mx")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1).toDouble, r.getLong(2).toDouble)))
      .toMap
    ext.foreach { case (lang, (mn, mx)) =>
      assert(qs((lang, 0.0)) == mn && qs((lang, 1.0)) == mx)
      val series = Seq(0.0, 0.2, 0.4, 0.6, 0.8, 1.0).map(p => qs((lang, p)))
      assert(series == series.sorted, s"$lang quantiles not monotone")
    }
  }
}
