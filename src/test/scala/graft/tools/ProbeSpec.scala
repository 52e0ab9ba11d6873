package graft.tools

import graft.SparkSpec
import org.apache.spark.sql.catalyst.parser.ParseException

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
}
