package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VectorExpressionsSpec extends SparkSpec {

  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.sql.GraftSql.register(spark)
  }

  test("vec_dot and vec_cosine match hand math on doubles") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0, 2.0), Seq(2.0, 0.0, 0.0))).toDF("a", "b")
    val r = df.select(expr("vec_dot(a, b)"), expr("vec_cosine(a, b)")).head()
    assert(r.getDouble(0) == 2.0)
    assert(math.abs(r.getDouble(1) - 2.0 / 6.0) < 1e-12)
  }

  test("float arrays supported; zero vector yields cosine 0") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 0.0f), Seq(0.0f, 0.0f))).toDF("a", "b")
    val r = df.select(expr("vec_cosine(a, b)")).head()
    assert(r.getDouble(0) == 0.0)
  }

  test("matches the higher-order-function cosine on real embeddings") {
    val emb = graft.Tables.load(spark, sfDir, "embeddings")
    val both = emb.select(
      expr("vec_cosine(embedding, embedding)").as("fast"),
      graft.sim.Similarity.cosineHof(col("embedding"), col("embedding")).as("hof"))
    val bad = both.where(abs(col("fast") - col("hof")) > lit(1e-9)).count()
    assert(bad == 0)
  }

  test("null inputs propagate null") {
    import spark.implicits._
    val df = Seq((Some(Seq(1.0)), None: Option[Seq[Double]])).toDF("a", "b")
    assert(df.select(expr("vec_cosine(a, b)")).head().isNullAt(0))
  }

  test("expression participates in whole-stage codegen") {
    val emb = graft.Tables.load(spark, sfDir, "embeddings")
    val q = emb.select(expr("vec_cosine(embedding, embedding)").as("c"))
      .agg(sum("c"))
    q.collect() // finalize the adaptive plan; codegen markers appear post-exec
    val plan = q.queryExecution.executedPlan.toString
    // '*(n)' prefixes mark whole-stage-codegen stages in the compact
    // rendering; the vec_cosine projection must be inside one
    assert("\\*\\(\\d+\\) Project \\[vec_cosine".r.findFirstIn(plan).isDefined,
      s"vec_cosine not in a codegen stage:\n$plan")
  }
}
