package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.LocalDateTime
import graft.tools.JobCounter
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

class TablesSpec extends SparkSpec {
  private lazy val jobs = JobCounter.attach(spark)
  private val base = "/tmp/graft_test/tables"

  /** A Spark-written directory of two part files: a timestamp column and a
    * non-nullable column (Spark's row metadata records both).
    */
  private def twoPartDir(path: String): Unit = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("ts", TimestampType),
      StructField("name", StringType)))
    val rows = (1 to 20).map(i => Row(i.toLong,
      java.sql.Timestamp.valueOf(LocalDateTime.of(2020, 1, 1, 0, 0).plusHours(i)), s"n$i"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .write.mode("overwrite").parquet(path)
  }

  test("loading a table launches no Spark job") {
    val dir = s"$base/two_part.parquet"
    twoPartDir(dir)
    Tables.names.foreach { n =>
      assert(jobs.count(Tables.load(spark, sfDir, n).schema)._2 == 0, n)
    }
    assert(jobs.count(Tables.parquet(spark, dir).schema)._2 == 0)
    // the plain read runs the footer job that Tables.parquet saves
    assert(jobs.count(spark.read.parquet(dir).schema)._2 == 1)
  }

  test("the schema is the one spark.read.parquet infers") {
    Tables.names.foreach { n =>
      val path = s"/root/testdata/sf0.01/$n.parquet"
      assert(Tables.parquet(spark, path).schema == spark.read.parquet(path).schema, n)
    }
    val dir = s"$base/two_part.parquet"
    twoPartDir(dir)
    val got = Tables.parquet(spark, dir)
    assert(got.schema == spark.read.parquet(dir).schema)
    assert(got.schema("ts").dataType == TimestampType)
    assert(got.collect().toSet == spark.read.parquet(dir).collect().toSet)
  }

  test("a _common_metadata file decides the schema, as in Spark's rule") {
    val dir = s"$base/common_meta.parquet"
    twoPartDir(dir)
    // a summary file whose schema has one more column than the part files
    val wide = s"$base/wide.parquet"
    spark.range(1).selectExpr("id", "CAST(NULL AS TIMESTAMP) AS ts", "'x' AS name",
      "1.5D AS extra").coalesce(1).write.mode("overwrite").parquet(wide)
    val part = new java.io.File(wide).listFiles().filter(_.getName.startsWith("part-")).head
    Files.copy(part.toPath, Paths.get(dir, "_common_metadata"),
      StandardCopyOption.REPLACE_EXISTING)
    val got = Tables.parquet(spark, dir)
    assert(got.schema == spark.read.parquet(dir).schema)
    assert(got.columns.contains("extra"))
  }

  test("a k=v partitioned directory takes the plain read and keeps k") {
    val dir = s"$base/partitioned.parquet"
    spark.range(12).selectExpr("id", "id % 3 AS k")
      .write.mode("overwrite").partitionBy("k").parquet(dir)
    val got = Tables.parquet(spark, dir)
    assert(got.columns.toSeq == Seq("id", "k"))
    assert(got.schema == spark.read.parquet(dir).schema)
    assert(got.where("k = 2").count() == 4)
  }
}
