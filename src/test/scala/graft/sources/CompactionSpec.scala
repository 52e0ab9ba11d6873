package graft.sources

import java.io.File

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.FileMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The two compaction mechanisms (see [[Compaction]]): parts of at least
  * one Parquet page are merged by copying their row groups in part-file
  * name order; smaller parts are decoded and re-encoded.
  */
class CompactionSpec extends SparkSpec {

  private val RowMeta = "org.apache.spark.sql.parquet.row.metadata"

  private def rmrf(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmrf)
    f.delete()
  }

  private def partFiles(dir: String): Seq[File] =
    new File(dir).listFiles().filter(f => f.isFile && f.getName.startsWith("part-"))
      .sortBy(_.getName).toSeq

  private def footer(f: File): (Int, FileMetaData) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(f.getPath), spark.sparkContext.hadoopConfiguration))
    try (r.getRowGroups.size, r.getFileMetaData) finally r.close()
  }

  /** A range-sorted table of `sizes(i)` consecutive ids per partition, in
    * partition order: nothing repartitions it, so part file i holds the
    * i-th id range. The 64-char hex digest keeps about 70 bytes per row
    * after encoding.
    */
  private def sorted(sizes: Seq[Long]): DataFrame = {
    import spark.implicits._
    val starts = sizes.scanLeft(0L)(_ + _)
    spark.sparkContext.parallelize(sizes.indices, sizes.size)
      .mapPartitionsWithIndex((i, _) => (starts(i) until starts(i + 1)).iterator)
      .toDF("id")
      .select(col("id"), sha2(col("id").cast("string"), 256).as("h"))
  }

  private val Sizes = Seq(18000L, 60000L, 20000L, 40000L)

  /** A target that packs parts (0, 1) and (2, 3) into one file each. */
  private def pairTarget(parts: Seq[File]): Long = {
    val len = parts.map(_.length())
    assert(len.max >= 3 * len.min, s"fixture parts should differ by 3x: $len")
    assert(len.sum / len.size >= 1024 * 1024, s"fixture parts should average 1 MiB: $len")
    val target = math.max(len(0) + len(1), len(2) + len(3))
    assert(len(0) + len(1) + len(2) > target)
    target
  }

  /** The copy path's promises for `in` merged into `out`. */
  private def assertCopied(in: Seq[File], out: Seq[File], expect: Seq[Long]): Unit = {
    assert(out.size == 2, s"expected two merged files, had ${out.map(_.getName)}")
    val perFile = out.map(f => spark.read.parquet(f.getPath).select("id").collect().map(_.getLong(0)).toSeq)
    perFile.zip(out).foreach { case (ids, f) =>
      assert(ids == ids.sorted, s"${f.getName} is not in ascending order")
    }
    assert(perFile.flatten == expect, "files in name order do not concatenate to the global order")
    val (inMeta, outMeta) = (in.map(footer), out.map(footer))
    assert(outMeta.map(_._1).sum == inMeta.map(_._1).sum, "row groups were not copied one for one")
    outMeta.foreach { case (_, m) =>
      assert(m.getKeyValueMetaData.get(RowMeta) == inMeta.head._2.getKeyValueMetaData.get(RowMeta))
      assert(m.getSchema == inMeta.head._2.getSchema)
    }
  }

  test("compactVersioned copies row groups of page-sized parts in part-file order") {
    val root = "/tmp/graft_test/compaction_copy_versioned"
    rmrf(new File(root))
    val src = sorted(Sizes)
    Compaction.writeVersioned(src, root)
    val in = partFiles(s"$root/v=0")
    assert(in.size == Sizes.size)
    val (before, after) = Compaction.compactVersioned(spark, root, targetFileBytes = pairTarget(in))
    assert((before, after) == (4, 2))
    assert(Compaction.resolve(spark, root).endsWith("v=1"))
    val back = spark.read.parquet(Compaction.resolve(spark, root))
    assert(back.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq ==
      src.collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq)
    assertCopied(in, partFiles(s"$root/v=1"), 0L until Sizes.sum)
  }

  test("in-place compact copies row groups of page-sized parts in part-file order") {
    val out = "/tmp/graft_test/compaction_copy_in_place"
    val src = sorted(Sizes)
    src.write.mode("overwrite").parquet(out)
    val aside = "/tmp/graft_test/compaction_copy_in_place_input"
    rmrf(new File(aside))
    org.apache.commons.io.FileUtils.copyDirectory(new File(out), new File(aside))
    val in = partFiles(aside)
    val (before, after) = Compaction.compact(spark, out, targetFileBytes = pairTarget(in))
    assert((before, after) == (4, 2))
    assert(spark.read.parquet(out).collect().map(_.getLong(0)).sorted.toSeq == (0L until Sizes.sum))
    assertCopied(in, partFiles(out), 0L until Sizes.sum)
    assert(!new File(out + "_old").exists() && !new File(out + "_compacting").exists())
  }

  test("parts under one page are re-encoded: one row group per output file") {
    val root = "/tmp/graft_test/compaction_small_parts"
    rmrf(new File(root))
    val src = sorted(Seq(3000L, 9000L, 3000L, 6000L))
    Compaction.writeVersioned(src, root)
    val in = partFiles(s"$root/v=0")
    assert(in.map(_.length()).sum / in.size < 1024 * 1024, "fixture parts should be under 1 MiB")
    val (before, after) = Compaction.compactVersioned(spark, root)
    assert((before, after) == (4, 1))
    val out = partFiles(Compaction.resolve(spark, root))
    assert(out.map(f => footer(f)._1) == Seq(1), "rewrite path should write one row group")
    assert(spark.read.parquet(Compaction.resolve(spark, root)).collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 21000L))
  }

  test("a copy run whose parts differ in schema fails before the commit marker") {
    val root = "/tmp/graft_test/compaction_schema_mismatch"
    rmrf(new File(root))
    Compaction.writeVersioned(sorted(Seq(20000L)), root)
    // a second page-sized part whose id is INT, not BIGINT, named after the first
    val stray = "/tmp/graft_test/compaction_schema_mismatch_int"
    sorted(Seq(20000L)).select(col("id").cast("int").as("id"), col("h"))
      .write.mode("overwrite").parquet(stray)
    val intPart = partFiles(stray).head
    assert(intPart.renameTo(new File(s"$root/v=0/part-99999-int.snappy.parquet")))
    assert(partFiles(s"$root/v=0").forall(_.length() >= 1024 * 1024))
    val e = intercept[Exception](Compaction.compactVersioned(spark, root))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("cannot merge")), e.toString)
    assert(!new File(s"$root/_committed_v=1").exists(), "a failed compaction published v=1")
    assert(Compaction.resolve(spark, root).endsWith("v=0"))
    // the orphaned v=1 is never resolved, and the next publish replaces it
    new File(s"$root/v=1").mkdirs()
    java.nio.file.Files.writeString(new File(s"$root/v=1/part-00000-orphan.parquet").toPath, "junk")
    val next = spark.range(0, 5).toDF("id").select(col("id"), lit("x").as("h"))
    assert(Compaction.publishNext(next, root) == 1)
    assert(Compaction.resolve(spark, root).endsWith("v=1"))
    assert(!partFiles(s"$root/v=1").exists(_.getName.contains("orphan")))
    assert(spark.read.parquet(Compaction.resolve(spark, root)).collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 5L))
  }
}
