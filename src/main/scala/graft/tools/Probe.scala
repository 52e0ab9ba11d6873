package graft.tools

import graft.{Bench, GraftSession, Queries, Tables}
import graft.sql.GraftSql
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one inspection tool for registry queries and ad-hoc SQL.
  *
  * Usage: dev/run.sh graft.tools.Probe <explain|time> <sfDir> <arg>...
  *
  * An arg that is a [[Queries.fullRegistry]] key builds that query; any
  * other arg runs as SQL over the [[Tables.registerAll]] views, with the
  * [[GraftSql]] functions registered.
  *
  *  - `explain` prints each plan's `explain("formatted")`.
  *  - `time` warms up as Bench does (every table once into the noop
  *    sink), then makes three noop-sink runs per arg, each preceded by
  *    [[Bench.hygiene]], and prints every reading with the number of
  *    Spark jobs it started, and their minimum.
  *
  * The session is [[GraftSession.builder]]'s host-sized default.
  */
object Probe {
  private val Runs = 3

  /** Register the views and SQL functions a SQL arg resolves against. */
  def prepare(spark: SparkSession, sfDir: String): Unit = {
    GraftSql.register(spark)
    Tables.registerAll(spark, sfDir)
  }

  /** The registry query named `arg`, else `arg` as SQL (after [[prepare]]). */
  def resolve(spark: SparkSession, sfDir: String, arg: String): DataFrame =
    Queries.fullRegistry.get(arg).fold(spark.sql(arg))(_.fn(spark, sfDir))

  /** First line of `arg`, short enough to head an output line. */
  private def label(arg: String): String =
    arg.linesIterator.nextOption().getOrElse("").take(60)

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && Set("explain", "time")(args(0)),
      "usage: graft.tools.Probe <explain|time> <sfDir> <arg>...")
    val (mode, sfDir, targets) = (args(0), args(1), args.drop(2).toSeq)
    val spark = GraftSession.builder("graft-probe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      prepare(spark, sfDir)
      if (mode == "explain") targets.foreach { a =>
        println(s"==== ${label(a)} ====")
        resolve(spark, sfDir, a).explain("formatted")
      } else {
        // Bench's warm-up: page cache + JIT out of the measurement
        Tables.names.foreach(t => Bench.exec(Tables.load(spark, sfDir, t)))
        val jobs = JobCounter.attach(spark)
        targets.foreach { a =>
          val runs = (1 to Runs).map { i =>
            Bench.hygiene(spark)
            val (t, n) = jobs.count(Bench.time(Bench.exec(resolve(spark, sfDir, a))))
            println(f"${label(a)}%-24s run$i $t%.3f s $n%d jobs")
            t
          }
          println(f"${label(a)}%-24s min  ${runs.min}%.3f s")
        }
      }
    } finally spark.stop()
  }
}
