package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided testdata tables (TESTDATA.md).
  *
  * Mirrors the reference's dataset abstraction — input path(s) + format →
  * record stream (`/root/reference/src/mapred/org/apache/hadoop/mapred/InputFormat.java:67`)
  * — as `spark.read.parquet` scans. Parquet is our native storage (the
  * reference is row-oriented SequenceFile/text; we keep semantics, not
  * layout — see SURVEY.md §1.4).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") normalizeEvents(df) else df
  }

  /** Normalize `events` to expose BOTH an exact long-nanos `ts_ns` and a
    * µs-precision TimestampType `ts`, whatever the physical parquet type.
    * Driver testdata has shipped events.ts as TIMESTAMP(NANOS) — which Spark
    * reads as a long under spark.sql.legacy.parquet.nanosAsLong — and as
    * timestamp[us] (TIMESTAMP_NTZ). Sessions run in UTC, so the NTZ→TZ cast
    * is instant-preserving.
    */
  def normalizeEvents(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000")))
      case TimestampType | TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
      case other =>
        throw new IllegalStateException(s"unexpected events.ts type: $other")
    }
  }

  /** (min, max) of a RAW events frame's `ts` in nanos, whatever the
    * physical dtype. Used by sentinel-staging code that does time
    * arithmetic in long-nanos space.
    */
  def eventsTsRangeNs(raw: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.functions._
    val r = normalizeEvents(raw).agg(min("ts_ns"), max("ts_ns")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** A literal for the given nanos instant in `raw`'s own `ts` dtype, so
    * sentinel rows written next to the raw file keep its schema and
    * where-clauses compare in the raw column's type. Nanos truncate to µs
    * for timestamp dtypes (the data itself is µs-grained).
    */
  def tsLitAsRaw(raw: DataFrame, ns: Long): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    raw.schema("ts").dataType match {
      case LongType => lit(ns)
      case dt => timestamp_micros(lit(ns / 1000L)).cast(dt)
    }
  }

  /** Load every table and register temp views so both the DataFrame API and
    * `spark.sql` can address them by the same names DuckDB uses.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach { n => load(spark, sfDir, n).createOrReplaceTempView(n) }
}

/** Session factory with scale-appropriate defaults.
  *
  * The defaults are the settings you'd also want on a 1000-executor
  * cluster: AQE on (runtime coalescing + skew-join splitting), modest
  * broadcast threshold, shuffle partitions sized to cores. Without an
  * explicit `cpus` the session takes the host's core count — more task
  * slots than cores only adds scheduling cost.
  *
  * Streaming state lives off the JVM heap by default: every stateful
  * operator keeps its state in a native RocksDB instance per partition,
  * and with changelog checkpointing each micro-batch commits only the
  * changed keys. All instances in the JVM share one memory budget
  * (Spark's `maxMemoryUsageMB`, 500 MB) for memtables and block cache,
  * so native memory does not grow with the partition count. Spark's
  * default `HDFSBackedStateStoreProvider` holds every loaded state
  * version of every partition as a hash map on the heap (two by
  * default); a replay whose staged input is small enough for that
  * selects it through [[graft.streaming.EventStreams.withStagedState]].
  * Spark records the provider in each checkpoint's offset log, so a
  * checkpoint made under another provider resumes on it.
  */
object GraftSession {
  def builder(appName: String,
              cpus: Int = Runtime.getRuntime.availableProcessors): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(graft.streaming.EventStreams.StateProviderKey,
        graft.streaming.EventStreams.RocksDBStateProvider)
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      .config("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage", "true")
      .config("spark.sql.warehouse.dir",
        sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE", "/tmp/graft-warehouse"))
}
