package graft.tools

import graft.SparkSpec
import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.functions.col

class ProbeSpec extends SparkSpec {

  test("resolve: a registry key builds its query, any other arg runs as SQL") {
    Probe.prepare(spark, sfDir)
    // a key is not valid SQL, so resolving it proves it never reaches the parser
    val key = "q_join_inner"
    intercept[ParseException](spark.sql(key))
    assert(Probe.resolve(spark, sfDir, key).queryExecution.analyzed.resolved)
    // a non-key goes to spark.sql: a bare unknown name fails to parse, and
    // a graft_ function over a Tables.registerAll view analyzes
    intercept[ParseException](Probe.resolve(spark, sfDir, "q_no_such_key"))
    val sql = Probe.resolve(spark, sfDir,
      "SELECT graft_token_count(text) AS n FROM documents")
    assert(sql.queryExecution.analyzed.resolved)
    assert(sql.columns.toSeq == Seq("n"))
  }

  test("JobCounter.measure sums the jobs, task CPU and shuffle-write bytes of its body") {
    val counter = JobCounter.attach(spark)
    val (_, w) = counter.measure(spark.range(0, 20000, 1, 4).groupBy(col("id") % 7).count()
      .write.format("noop").mode("overwrite").save())
    assert(w.jobs >= 1 && w.cpuNs > 0 && w.shuffleBytes > 0)
    val (_, idle) = counter.measure(())
    assert(idle == JobCounter.Work(0, 0, 0))
  }
}
