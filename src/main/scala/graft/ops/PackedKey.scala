package graft.ops

import graft.functions.RangeBucket
import java.util.Locale
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Cast, KnownNullable, NullsFirst}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types._

/** [[GlobalRank.withGlobalRankTracked]]'s order on one order-preserving
  * `LONG`: when every sort key is integral, boolean, date or timestamp, a
  * sampling pass measures each key's exact value range, and the keys pack
  * into one non-negative long whose signed order is the key tuple's
  * order. The range exchange then routes on explicit split points, the
  * sort is Spark's radix sort on a single long prefix, and the shuffle
  * and the checkpoint carry the packed key in place of the key columns.
  */
private[ops] object PackedKey {

  /** The packed key's column name inside the sorted checkpoint. */
  val Name = "_nk"

  /** One sort key: its direction and null order, its value as a long
    * (the type's internal value: days, microseconds, 0/1), and the name of
    * the `df` column it is, if it is one.
    */
  final case class Key(asc: Boolean, nullsFirst: Boolean, dataType: DataType,
                       value: Column, column: Option[String])

  /** The keys of `sortCols` when they can pack: every key of a packable
    * type and deterministic, over a deterministic `df` with unique column
    * names. A `df` whose plan holds an exchange takes today's path too: the
    * sampling pass re-reads `df`, which would run its upstream stages
    * twice. None runs no job.
    */
  def keys(df: DataFrame, sortCols: Seq[Column]): Option[Seq[Key]] = {
    val plan = df.queryExecution.analyzed
    val names = (df.columns :+ Name).map(_.toLowerCase(Locale.ROOT))
    lazy val narrow = PlanWalk.find(df.queryExecution.executedPlan)(_.isInstanceOf[Exchange]).isEmpty
    df.sort(sortCols: _*).queryExecution.analyzed match {
      case s: Sort if s.child.output == plan.output && plan.deterministic &&
          names.distinct.length == names.length &&
          s.order.forall(o => o.child.deterministic && packable(o.child.dataType)) && narrow =>
        Some(s.order.map { o =>
          val column = o.child match {
            case a: Attribute => plan.output.find(_.exprId == a.exprId).map(_.name)
            case _ => None
          }
          Key(o.direction == Ascending, o.nullOrdering == NullsFirst, o.child.dataType,
            toLong(ColumnShim.column(o.child), o.child.dataType), column)
        })
      case _ => None
    }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  private def packable(t: DataType): Boolean = t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def toLong(c: Column, t: DataType): Column = t match {
    case DateType => unix_date(c).cast(LongType)
    case TimestampType => unix_micros(c)
    case TimestampNTZType => unix_micros(utc(c, TimestampType))
    case _ => c.cast(LongType)
  }

  private def fromLong(c: Column, t: DataType): Column = t match {
    case DateType => date_from_unix_date(c.cast(IntegerType))
    case TimestampType => timestamp_micros(c)
    case TimestampNTZType => utc(timestamp_micros(c), TimestampNTZType)
    case _ => c.cast(t)
  }

  /** A cast between the two timestamp types in UTC, which keeps the
    * microsecond value whatever the session time zone.
    */
  private def utc(c: Column, to: DataType): Column =
    ColumnShim.column(Cast(ColumnShim.expression(c), to, Some("UTC")))

  /** One input partition's exact key statistics and its reservoir sample:
    * `sample` holds `sampled` rows of one long per key, row-major, with
    * `sampleNull` marking the nulls.
    */
  final case class Sketch(rows: Long, min: Array[Long], max: Array[Long], nulls: Array[Long],
                          sample: Array[Long], sampleNull: Array[Boolean], sampled: Int)

  object Sketch {
    /** Reads each row's `k` long columns once: min, max and null count per
      * key, and a uniform sample of at most `size` rows (Algorithm R,
      * seeded by the partition index so the split points are repeatable).
      */
    def of(rows: Iterator[InternalRow], k: Int, size: Int, seed: Long): Sketch = {
      val min = Array.fill(k)(Long.MaxValue)
      val max = Array.fill(k)(Long.MinValue)
      val nulls = new Array[Long](k)
      val sample = new Array[Long](size * k)
      val sampleNull = new Array[Boolean](size * k)
      val rnd = new java.util.SplittableRandom(seed)
      var seen = 0L
      rows.foreach { r =>
        val slot =
          if (seen < size) seen.toInt
          else { val j = rnd.nextLong(seen + 1); if (j < size) j.toInt else -1 }
        var c = 0
        while (c < k) {
          val isNull = r.isNullAt(c)
          if (isNull) nulls(c) += 1
          else {
            val v = r.getLong(c)
            if (v < min(c)) min(c) = v
            if (v > max(c)) max(c) = v
            if (slot >= 0) sample(slot * k + c) = v
          }
          if (slot >= 0) sampleNull(slot * k + c) = isNull
          c += 1
        }
        seen += 1
      }
      val sampled = math.min(seen, size.toLong).toInt
      Sketch(seen, min, max, nulls, sample.take(sampled * k), sampleNull.take(sampled * k), sampled)
    }
  }

  /** One key's bit field. Codes run 0 until `slots`: a value takes
    * `v − min` (ascending) or `max − v` (descending), shifted up one when
    * nulls come first; a null takes slot 0 (nulls first) or the top slot
    * (nulls last). The width comes from exact arithmetic, so a range like
    * `Long.MinValue..Long.MaxValue` measures 64 bits and cannot pack.
    */
  final case class Field(key: Key, min: Long, max: Long, hasValues: Boolean, hasNulls: Boolean) {
    private val values: BigInt = if (hasValues) BigInt(max) - BigInt(min) + 1 else 0
    val width: Int = (values + (if (hasNulls) 1 else 0) - 1).max(0).bitLength
    val valueOffset: Long = if (hasNulls && key.nullsFirst) 1L else 0L
    val nullCode: Long = if (key.nullsFirst) 0L else values.toLong

    def code(v: Long, isNull: Boolean): Long =
      if (isNull) nullCode else (if (key.asc) v - min else max - v) + valueOffset

    /** [[code]] as an expression over the key's value. */
    def codeColumn: Column = {
      val base = if (key.asc) key.value - lit(min) else lit(max) - key.value
      coalesce(if (valueOffset == 1L) base + lit(1L) else base, lit(nullCode))
    }

    /** The key's value back from its field at `shift` of `packed`, in the
      * key's type.
      */
    def decode(packed: Column, shift: Int): Column = {
      val code =
        if (width == 0) lit(0L) else shiftright(packed, shift).bitwiseAND(lit((1L << width) - 1))
      val rel = if (valueOffset == 1L) code - lit(1L) else code
      lazy val v = fromLong(if (key.asc) rel + lit(min) else lit(max) - rel, key.dataType)
      val none = lit(null).cast(key.dataType)
      if (!hasValues) none
      else if (hasNulls) when(code === lit(nullCode), none).otherwise(v)
      else v
    }
  }

  /** The keys' fields, most significant first, and the split points of the
    * range exchange.
    */
  final case class Packing(fields: Seq[Field], bounds: Array[Long]) {
    private val shifts: Seq[Int] = fields.map(_.width).scanRight(0)(_ + _).tail

    /** The packed key of sample row `j` of `s`. */
    def pack(s: Sketch, j: Int): Long = {
      val k = fields.length
      fields.indices.foldLeft(0L) { (acc, c) =>
        acc | (fields(c).code(s.sample(j * k + c), s.sampleNull(j * k + c)) << shifts(c))
      }
    }

    /** `df` with its key columns replaced by the packed key, range
      * partitioned on the split points and sorted within partitions.
      */
    def sortedByRange(df: DataFrame, n: Int): DataFrame = {
      val dropped = fields.flatMap(_.key.column).toSet
      val packed = fields.zip(shifts).filter(_._1.width > 0)
        .map { case (f, s) => shiftleft(f.codeColumn, s) }
        .reduceOption(_ bitwiseOR _).getOrElse(lit(0L))
      df.select(df.columns.filterNot(dropped).map(quoted) :+ packed.as(Name): _*)
        .repartitionById(n, ColumnShim.column(RangeBucket(ColumnShim.expression(col(Name)), bounds)))
        .sortWithinPartitions(Name)
    }

    /** `sorted` (the checkpoint of [[sortedByRange]]) with `df`'s columns
      * back in `df`'s order, names, types and nullability: each dropped key
      * column decodes from its field, every other column passes through,
      * and the packed key gives way to `_mid`.
      */
    def decoded(df: DataFrame, sorted: DataFrame): DataFrame = {
      val byColumn = fields.zip(shifts).reverse.flatMap { case (f, s) =>
        f.key.column.map(_ -> (f, s))
      }.toMap
      sorted.select(df.schema.fields.toSeq.map { c =>
        byColumn.get(c.name).fold(quoted(c.name)) { case (f, s) =>
          val v = f.decode(col(Name), s)
          (if (c.nullable && !f.hasNulls) nullable(v) else v).as(c.name, c.metadata)
        }
      } :+ col("_mid"): _*)
    }
  }

  private def nullable(c: Column): Column =
    ColumnShim.column(KnownNullable(ColumnShim.expression(c)))

  private def quoted(name: String): Column = col("`" + name.replace("`", "``") + "`")

  /** The sampling pass: one job over `keys`' values that measures each
    * key's exact range and samples split points for `n` ranges, sized as
    * Spark's range exchange sizes its sample. None when the fields need
    * more than 63 bits or `df` is empty; the caller then takes today's
    * path, whose range sampler runs one more job.
    */
  def measure(df: DataFrame, keys: Seq[Key], n: Int): Option[Packing] = {
    val conf = df.sparkSession.sessionState.conf
    val rdd = df.select(keys.map(_.value): _*).queryExecution.toRdd
    val sampleSize = math.min(conf.rangeExchangeSampleSizePerPartition.toDouble * n, 1e6)
    val size = math.ceil(3.0 * sampleSize / math.max(rdd.getNumPartitions, 1)).toInt
    val k = keys.length
    val sketches = rdd.mapPartitionsWithIndex((i, rows) => Iterator(Sketch.of(rows, k, size, i)))
      .collect()
    val rows = sketches.map(_.rows).sum
    lazy val fields = keys.indices.map { c =>
      val nulls = sketches.map(_.nulls(c)).sum
      Field(keys(c), sketches.map(_.min(c)).min, sketches.map(_.max(c)).max,
        hasValues = nulls < rows, hasNulls = nulls > 0)
    }
    if (rows == 0 || fields.map(_.width).sum > 63) None
    else {
      val layout = Packing(fields, Array.emptyLongArray)
      val candidates = sketches.filter(_.sampled > 0).flatMap { s =>
        val weight = s.rows.toDouble / s.sampled
        (0 until s.sampled).map(j => layout.pack(s, j) -> weight)
      }
      Some(layout.copy(bounds = bounds(candidates, n)))
    }
  }

  /** Up to `n − 1` ascending distinct split points: the weighted
    * quantiles of the sample, by Spark's `RangePartitioner.determineBounds`
    * rule (a bound at each `sum/n` step of cumulative weight, skipping
    * repeats).
    */
  private def bounds(candidates: Array[(Long, Double)], n: Int): Array[Long] = {
    val ordered = candidates.sortBy(_._1)
    val step = ordered.map(_._2).sum / n
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var cum = 0.0
    var target = step
    var i = 0
    while (i < ordered.length && out.length < n - 1) {
      val (key, w) = ordered(i)
      cum += w
      if (cum >= target && out.lastOption.forall(key > _)) {
        out += key
        target += step
      }
      i += 1
    }
    out.toArray
  }
}
