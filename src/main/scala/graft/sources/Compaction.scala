package graft.sources

import java.io.FileNotFoundException

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.ParquetProperties
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.rewrite.{ParquetRewriter, RewriteOptions}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** Small-file compaction — the warehouse housekeeping job every
  * streaming/incremental sink needs (reference-era analog: the archive
  * "loader" jobs that merged per-hour log files; a micro-batch parquet
  * sink at 100 TB accretes millions of KB-sized files and scan task
  * counts explode).
  *
  * Both forms merge a directory's `part-` files into ≈`targetFileBytes`
  * files with one of two mechanisms, chosen from the listing alone:
  *
  *  - *copy*, when the mean part file is at least one Parquet page
  *    (`ParquetProperties.DEFAULT_PAGE_SIZE`, 1 MiB) and the directory
  *    holds no other data entry: the part files, in name order, are
  *    packed into contiguous runs of at most `targetFileBytes` (a larger
  *    file is a run of its own), and one task per run appends the run's
  *    row groups byte for byte (column, offset and column indexes and
  *    bloom filters included) to `part-NNNNN.parquet`. No row is decoded.
  *    The files of a run must share the Parquet schema and Spark's footer
  *    keys ([[SparkFooterKeys]]); the task throws otherwise, so the job
  *    fails before anything is published.
  *  - *rewrite*, below that size: read, `coalesce`, write. Micro-batch
  *    sinks leave row groups smaller than a page, which only re-encoding
  *    repairs (a copy would also keep one footer entry per source file).
  *
  * Order: the copy keeps rows in part-file name order, so a range-sorted
  * version (a `GlobalRank`/`q_sort_total` output) still reads back in
  * rank order file by file. The rewrite does not keep that order.
  *
  * Two swap disciplines:
  *
  *  - [[compact]] swaps in place. Failure-safe at every step (the source
  *    is renamed aside, never deleted, until the compacted dir is live),
  *    but a concurrent reader between the two renames sees a missing
  *    directory — the in-place form trades a reader window for keeping
  *    the path stable.
  *  - [[compactVersioned]] + [[resolve]] close that window without a
  *    metastore: data lives in immutable `v=N` dirs under a table root,
  *    and each version is published by creating an immutable, empty-ish
  *    commit marker `_committed_v=N` at the root. Readers resolve to the
  *    HIGHEST committed version. Nothing is ever renamed or overwritten
  *    on the commit path — the only visibility primitive is the atomic
  *    appearance of a new directory entry, which holds on local
  *    filesystems, HDFS, and object stores (S3 PUT + strongly consistent
  *    LIST). This is deliberately NOT a mutable `CURRENT` pointer:
  *    Hadoop's local `rename(OVERWRITE)` is delete-then-rename, and
  *    object stores have no atomic rename at all, so any
  *    overwrite-a-pointer scheme has a reader window somewhere. A
  *    superseded version outlives its successor by `grace` generations so
  *    an in-flight reader holding a just-stale resolution still completes
  *    its scan. This is the single-table form of a metastore location
  *    swap (reference promote protocol:
  *    `src/mapred/org/apache/hadoop/mapred/FileOutputCommitter.java:34`).
  */
object Compaction {

  /** Footer keys Spark reads back to decode a file's rows. A merged file
    * carries one footer, so every file of a copy run must agree on them.
    */
  private val SparkFooterKeys: Seq[String] = Seq(
    "org.apache.spark.sql.parquet.row.metadata", "org.apache.spark.legacyDateTime",
    "org.apache.spark.legacyINT96", "org.apache.spark.timeZone")

  private def isPart(s: FileStatus): Boolean = s.isFile && s.getPath.getName.startsWith("part-")

  /** Merges the part files of `src` into a fresh `dst` (see the object
    * doc for the copy/rewrite rule).
    *
    * @return (filesBefore, filesAfter) part-file counts.
    */
  private def mergeParts(spark: SparkSession, src: Path, dst: Path,
                         targetFileBytes: Long): (Int, Int) = {
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listing = fs.listStatus(src)
    val parts = listing.filter(isPart).sortBy(_.getPath.getName)
    val bytes = parts.map(_.getLen).sum
    // Spark's file index skips `_`/`.` names; any other entry (a partition
    // dir, a foreign data file) is data the copy would not carry over
    val onlyParts = listing.forall(s => isPart(s) || "_.".contains(s.getPath.getName.head))
    fs.delete(dst, true)
    if (parts.nonEmpty && onlyParts && bytes / parts.length >= ParquetProperties.DEFAULT_PAGE_SIZE) {
      val runs = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[String]]
      var fill = 0L
      parts.foreach { p =>
        if (runs.isEmpty || fill + p.getLen > targetFileBytes) {
          runs += mutable.ArrayBuffer.empty[String]
          fill = 0L
        }
        runs.last += p.getPath.toString
        fill += p.getLen
      }
      fs.mkdirs(dst)
      val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
      val out = dst.toString
      spark.sparkContext.parallelize(runs.map(_.toSeq).zipWithIndex.toSeq, runs.length)
        .foreach { case (run, i) => copyRowGroups(conf.value, run, new Path(out, f"part-$i%05d.parquet")) }
    } else {
      val n = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
      // coalesce, not repartition: compaction must not pay a shuffle
      spark.read.parquet(src.toString).coalesce(n)
        .write.mode("overwrite").parquet(dst.toString)
    }
    (parts.length, fs.listStatus(dst).count(isPart))
  }

  /** Appends the row groups of `files`, in order, to a new file `out`
    * without decoding them. Runs inside a task: the output is deleted
    * first, so a retried task overwrites its own partial file.
    */
  private def copyRowGroups(conf: Configuration, files: Seq[String], out: Path): Unit = {
    val in = files.map(new Path(_))
    val footerOnly = HadoopReadOptions.builder(conf)
      .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()
    val metas = in.map { p =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf), footerOnly)
      try r.getFileMetaData finally r.close()
    }
    in.zip(metas).tail.foreach { case (p, m) =>
      val differ = (if (m.getSchema != metas.head.getSchema) Seq("schema") else Nil) ++
        SparkFooterKeys.filter(k =>
          m.getKeyValueMetaData.get(k) != metas.head.getKeyValueMetaData.get(k))
      if (differ.nonEmpty)
        throw new IllegalStateException(
          s"cannot merge $p into $out: its ${differ.mkString(", ")} differ from ${in.head}")
    }
    out.getFileSystem(conf).delete(out, false)
    val rewriter = new ParquetRewriter(new RewriteOptions.Builder(conf, in.asJava, out).build())
    try rewriter.processBlocks() finally rewriter.close()
  }

  /** @return (filesBefore, filesAfter) parquet part-file counts. */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val hPath = new Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + "_compacting")
    val old = new Path(path + "_old")
    fs.delete(old, true)
    val counts = mergeParts(spark, hPath, tmp, targetFileBytes)
    // swap via rename-aside: the source is never deleted before the
    // compacted dir is live, so a crash at any point leaves the data
    // intact (at `path`, or at `path_old` + `path_compacting` — recovery
    // is a rename back). The window without a live `path` between the two
    // renames is the in-place form's cost; compactVersioned closes it.
    require(fs.rename(hPath, old), s"rename $hPath -> $old failed")
    require(fs.rename(tmp, hPath), s"rename $tmp -> $hPath failed")
    fs.delete(old, true)
    counts
  }

  private val MarkerPrefix = "_committed_v="

  private def committedVersions(spark: SparkSession, root: String): Seq[Long] = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new Path(root))
      .filter(s => s.isFile && s.getPath.getName.startsWith(MarkerPrefix))
      // tolerate stray non-numeric suffixes (e.g. `_committed_v=3.tmp`
      // left by a copying tool) rather than poisoning every resolve
      .flatMap(s => scala.util.Try(s.getPath.getName.stripPrefix(MarkerPrefix).toLong).toOption)
      .toSeq
  }

  /** Resolve the live data directory under `root`: the highest committed
    * version. The version is carried in the marker FILENAME, so resolve
    * never opens a file — a half-written marker body cannot be observed.
    * Bounded retry on a missing/empty root defends against
    * eventual-consistency windows on stores whose LIST can briefly trail
    * a PUT (and makes downstream jobs robust to racing a first
    * `writeVersioned`).
    */
  def resolve(spark: SparkSession, root: String): String = {
    var attempt = 0
    while (true) {
      // A missing root is almost always a typo or an uninitialized table,
      // not an eventual-consistency window: give it one short retry and
      // fail fast, reserving the full retry budget for the
      // root-exists-but-marker-not-yet-listed case.
      var rootMissing = false
      val vs =
        try committedVersions(spark, root)
        catch { case _: FileNotFoundException => rootMissing = true; Seq.empty[Long] }
      if (vs.nonEmpty) return s"$root/v=${vs.max}"
      attempt += 1
      if (rootMissing && attempt >= 2)
        throw new FileNotFoundException(
          s"$root does not exist (no table root after $attempt attempts)")
      if (attempt >= 20)
        throw new FileNotFoundException(
          s"$root has no $MarkerPrefix<N> commit marker after $attempt attempts")
      Thread.sleep(25)
    }
    throw new IllegalStateException("unreachable")
  }

  private def currentVersion(spark: SparkSession, root: String): Long = {
    val dir = resolve(spark, root)
    dir.substring(dir.lastIndexOf("v=") + 2).toLong
  }

  /** Publish version `v`: create the immutable `_committed_v=N` marker.
    * The atomic primitive is directory-entry creation — no rename, no
    * overwrite of a live file, valid on local FS, HDFS, and object
    * stores. The body records the version for humans; readers never
    * parse it.
    */
  private[sources] def commitMarker(spark: SparkSession, root: String, v: Long): Unit = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(root, MarkerPrefix + v)
    // create-once (overwrite=false): a second publisher of the same
    // version fails loudly instead of silently re-publishing — markers
    // are immutable, matching the nothing-is-ever-overwritten contract
    val out = fs.create(marker, false)
    try out.write(s"v=$v".getBytes("UTF-8")) finally out.close()
  }

  /** Initialize a versioned table root: write the frame as `v=0` and
    * commit it. INIT-ONLY by design: resolve takes the MAX committed
    * version, so re-initializing a root that already has committed
    * versions would write data no reader ever sees — fail loudly
    * instead of losing the write silently.
    */
  def writeVersioned(df: org.apache.spark.sql.DataFrame, root: String): Unit = {
    val existing =
      try committedVersions(df.sparkSession, root)
      catch { case _: FileNotFoundException => Seq.empty[Long] }
    require(existing.isEmpty,
      s"writeVersioned: $root already has committed versions ${existing.sorted}; " +
        "use compactVersioned to advance an initialized table")
    df.write.mode("overwrite").parquet(s"$root/v=0")
    commitMarker(df.sparkSession, root, 0)
  }

  /** Publish `df` as the next version of an initialized table root:
    * write `v=N+1`, create its commit marker, retire versions more than
    * `grace` generations behind. The general versioned-advance primitive
    * — [[compactVersioned]] advances the same way with merged files in
    * place of a frame, and a CDC MERGE ([[graft.ops.Cdc.mergeVersioned]])
    * is this with an applyChanges transform. Same crash-safety as
    * compactVersioned: a
    * failure before the marker leaves readers on `v=N` and the orphan
    * dir is overwritten by the next publish.
    *
    * @return the published version number.
    */
  def publishNext(df: org.apache.spark.sql.DataFrame, root: String,
                  grace: Int = 1): Long = {
    require(grace >= 1, s"grace must be >= 1, got $grace")
    val spark = df.sparkSession
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = currentVersion(spark, root)
    val next = new Path(s"$root/v=${cur + 1}")
    fs.delete(next, true)
    df.write.mode("overwrite").parquet(next.toString)
    commitMarker(spark, root, cur + 1)
    retireOld(spark, root, cur, grace)
    cur + 1
  }

  /** Retire committed versions more than `grace` generations behind head
    * version `cur + 1` (marker first, then data, so a concurrent resolve
    * can never select a version whose data is mid-delete).
    */
  private def retireOld(spark: SparkSession, root: String,
                        cur: Long, grace: Int): Unit = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    committedVersions(spark, root)
      .filter(_ <= cur - grace)
      .foreach { v =>
        fs.delete(new Path(root, MarkerPrefix + v), false)
        fs.delete(new Path(s"$root/v=$v"), true)
      }
  }

  /** Compact the live version into `v=N+1` and publish it by creating its
    * commit marker. Versions more than `grace` generations behind the new
    * head are retired (marker first, then data, so a concurrent resolve
    * can never select a version whose data is mid-delete); keeping
    * `grace ≥ 1` lets readers holding a just-stale resolution finish
    * their scan. Crash-safe: a failure after writing `v=N+1` data but
    * before its marker leaves readers on `v=N`, and the next compaction
    * overwrites the uncommitted orphan dir. Single-compactor contract
    * (the reference's housekeeping jobs were singletons too): concurrent
    * compactions of one root can both target `v=N+1` and interleave
    * writes into it — readers still never break (they only see committed
    * markers and max-version resolution), and the create-once marker
    * ensures the second publisher of `v=N+1` fails loudly instead of
    * silently double-committing — but run one compactor per table.
    *
    * @return (filesBefore, filesAfter) part-file counts.
    */
  def compactVersioned(spark: SparkSession, root: String,
                       targetFileBytes: Long = 128L * 1024 * 1024,
                       grace: Int = 1): (Int, Int) = {
    require(grace >= 1, s"grace must be >= 1, got $grace")
    val cur = currentVersion(spark, root)
    val counts = mergeParts(spark, new Path(s"$root/v=$cur"), new Path(s"$root/v=${cur + 1}"),
      targetFileBytes)
    commitMarker(spark, root, cur + 1)
    retireOld(spark, root, cur, grace)
    counts
  }
}
