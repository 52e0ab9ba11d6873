package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-min sketch (Cormode & Muthukrishnan 2005) as a heavy-hitter
  * GATE — the sketch-prunes-then-exact-verifies discipline this engine
  * uses everywhere (LSH → Jaccard, cells → cosine): the sketch never
  * undercounts, so filtering occurrences by `estimate >= threshold`
  * BEFORE the exact aggregation loses no true heavy hitter, and the
  * exact count afterwards discards the sketch's false positives. The
  * output is therefore EXACT — the sketch only decides how much reaches
  * the shuffle.
  *
  * Reference lineage: the aggregate framework's `UniqValueCount`/
  * `ValueHistogram` capped per-key state to survive skew
  * (`/root/reference/src/mapred/org/apache/hadoop/mapred/lib/aggregate/ValueHistogram.java:30`);
  * count-min is the principled version — fixed d×w state for ANY key
  * cardinality.
  *
  * Scale shape (100 TB wordcount): the sketch build is one map-side-
  * combinable aggregation whose output is at most d×w cells regardless
  * of input size — per depth one codegen'd xxhash64 of the key (seeded
  * by the depth index). For the gate, the summary shrinks further to per-depth
  * HOT-CELL BITMAPS (width/64 longs: membership is all `estimate >= T`
  * needs), collected and re-embedded as array LITERALS — the same
  * treatment as the IVF centroid arrays and the GlobalRank offset
  * table; a per-row broadcast join would copy the payload into every
  * joined row. The gate is then a codegen'd O(depth) Column in the
  * scan stage, and the exact count shuffles ONLY gated survivors. A
  * plain `GROUP BY token HAVING count >= T` shuffles every distinct
  * token; this shuffles ~|hitters| plus the eps = e/width
  * false-positive tail.
  *
  * Sizing discipline: cells average `total_occurrences / width`, so an
  * ABSOLUTE threshold needs `width ∝ N/threshold` or the gate saturates
  * (every cell clears T and nothing is pruned — still exact, just no
  * benefit); a FRACTIONAL threshold `T = φN` needs only `width > 1/φ`,
  * which is scale-free. The bench's d7/d7w trend measures exactly this
  * knee. Everything is deterministic (a pure hash of the key), so the
  * sketch replays identically run to run.
  */
object CountMin {

  /** Maximum sketch depth. Historical: the md5-hex cell derivation split
    * the 32 hex digits into 4 disjoint sub-hashes; the xxhash64 form has
    * no such limit but the API keeps the same bound (no caller wants
    * more — the count-min error bound is driven by width, not depth).
    */
  val MaxDepth = 4

  /** Depth-`i` cell for a key: `xxhash64(i, key) mod width`. One cheap
    * codegen'd 64-bit hash per (row, depth) — measured against
    * the previous derivation (hex-slicing ONE md5 per row:
    * `conv(substring(md5(cast(key as string)), 8i+1, 8), 16, 10)`),
    * which paid a cast-to-string, an md5, and per-depth string slicing
    * in the hot scan stage (guide §4: prefer cheap built-in expressions
    * in the per-row path). Seeding with the depth index keeps the
    * depths' hashes independent; everything stays a pure deterministic
    * function of (i, key), so the sketch replays identically run to run
    * and partition to partition. The OUTPUT of the gate is exact either
    * way — the hash choice only decides pruning quality, never the
    * result ([[heavyHitters]] re-counts exactly).
    */
  def cell(i: Int, key: Column, width: Int): Column = {
    require(0 <= i && i < MaxDepth, s"depth index $i outside [0, $MaxDepth)")
    pmod(xxhash64(lit(i), key), lit(width.toLong))
  }

  /** The merged sketch in its distributed, mergeable form: sparse
    * `(d, c, cnt)` cells, at most depth×width rows however large the
    * input (two sketches over disjoint inputs merge by summing cnt per
    * cell — the map-side-combine property).
    */
  def sketch(occurrences: DataFrame, key: Column,
             depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && depth <= MaxDepth && width >= 2,
      s"bad sketch shape: $depth x $width (depth <= $MaxDepth)")
    occurrences
      .select(explode(array((0 until depth).map(i =>
        struct(lit(i).as("d"), cell(i, key, width).as("c"))): _*)).as("dc"))
      .groupBy(col("dc.d").as("d"), col("dc.c").as("c"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** The sketch densified on the driver: `result(i)(c)` = count of cell
    * `c` at depth `i`. The collect moves at most depth×width rows — a
    * size fixed by the sketch SHAPE, not the data (the constant-summary
    * contract that makes a sketch a sketch).
    */
  def sketchArrays(occurrences: DataFrame, key: Column,
                   depth: Int, width: Int): Array[Array[Long]] = {
    val dense = Array.fill(depth)(new Array[Long](width))
    sketch(occurrences, key, depth, width).collect().foreach { r =>
      dense(r.getInt(0))(r.getLong(1).toInt) = r.getLong(2)
    }
    dense
  }

  /** Sketch estimate for `key`: min over depths of the key's cell
    * counts, against driver-densified arrays embedded as literals.
    * Always >= the true count; O(depth) per row, stays in codegen.
    */
  def estimate(key: Column, sk: Array[Array[Long]], width: Int): Column =
    least(sk.indices.map(i =>
      element_at(typedlit(sk(i).toSeq), (cell(i, key, width) + 1).cast("int"))): _*)

  /** Per-depth HOT-CELL BITMAP: bit `c` set iff cell `c`'s count clears
    * the threshold. `estimate >= T` ⟺ every depth's cell clears T, so
    * the gate only needs membership, not counts — width/64 longs per
    * depth (80 KB at width 655,360) instead of width counts, which is
    * what lets `width ∝ N` stay a literal-embeddable gate at any
    * realistic scale. Only qualifying cells are collected (the sparse
    * sketch filtered to `cnt >= threshold`).
    */
  def hotCellBitmaps(occurrences: DataFrame, key: Column, threshold: Long,
                     depth: Int, width: Int): Array[Array[Long]] = {
    val words = Array.fill(depth)(new Array[Long]((width + 63) / 64))
    sketch(occurrences, key, depth, width)
      .filter(col("cnt") >= threshold).select("d", "c")
      .collect().foreach { r =>
        val c = r.getLong(1)
        words(r.getInt(0))((c >>> 6).toInt) |= (1L << (c & 63))
      }
    words
  }

  /** Membership of `key`'s depth-`i` cell in a hot-cell bitmap, as a
    * codegen'd O(1) Column: word lookup + bit shift.
    */
  private def inBitmap(i: Int, key: Column, width: Int,
                       words: Array[Long]): Column = {
    val c = cell(i, key, width)
    val word = element_at(typedlit(words.toSeq),
      (shiftright(c, 6) + 1).cast("int"))
    // column-valued shift amount: the Column-API shiftright only takes a
    // literal, the SQL function form takes an expression
    call_function("shiftright", word, (c % 64).cast("int"))
      .bitwiseAND(lit(1L)) === lit(1L)
  }

  /** EXACT keys with occurrence count >= `threshold`, computed through
    * the sketch gate: occurrences whose cells are hot at EVERY depth
    * (⟺ estimate >= threshold) are exactly counted; the rest never
    * leave the scan stage.
    *
    * @return (key as `k`, `cnt`) — identical to
    *         `GROUP BY key HAVING count(*) >= threshold`.
    */
  def heavyHitters(occurrences: DataFrame, key: Column, threshold: Long,
                   depth: Int = 4, width: Int = 8192): DataFrame = {
    require(threshold >= 1, s"threshold must be >= 1, got $threshold")
    val bitmaps = hotCellBitmaps(occurrences, key, threshold, depth, width)
    occurrences
      .select(key.as("k"))
      .filter((0 until depth).map(i =>
        inBitmap(i, col("k"), width, bitmaps(i))).reduce(_ && _))
      .groupBy("k")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= threshold)
  }

  /** Hard ceiling on auto-sized width: 2^22 cells keep the per-depth
    * hot-cell bitmap at 64K longs (512 KB) — still comfortably a codegen
    * literal. Past the cap the gate saturates gracefully (prunes less,
    * stays exact) rather than shipping megabyte literals into every task.
    */
  val MaxAutoWidth: Int = 1 << 22

  /** Width floor for the auto path — below this the bitmap is noise-level
    * cheap anyway, so there is nothing to save by going smaller.
    */
  val MinAutoWidth: Int = 1024

  /** Sketch width derived from the data, closing the one knob
    * [[heavyHitters]] leaves to the caller. The d7/d7w bench pair
    * measures the failure mode this removes: at a FIXED width, growing
    * occurrences saturate the cells (mean cell count `N/width` clears the
    * threshold, the gate stops pruning, and the "gated" shuffle degrades
    * toward the plain `GROUP BY key` it was built to avoid — superlinear
    * 13.9x at 10x input vs 9.2x with width ∝ N).
    *
    * Sizing rule, from the scaladoc discipline made executable:
    * `width = min(8·N/T, 16·D̂)` clamped to [[[MinAutoWidth]],
    * [[MaxAutoWidth]]] and rounded up to a power of two —
    *  - `8·N/T` keeps the mean COLLISION mass per cell (`≈ N/width`) at
    *    T/8: a key only passes falsely when its own count is within that
    *    margin of T at EVERY depth, so the false-positive tail stays a
    *    sliver of the near-hitters;
    *  - `16·D̂` caps pointless width: at 16 cells per distinct key the
    *    per-depth collision probability is ≤ 1/16, and the min over 4
    *    depths makes a 4-way collision (the only way an estimate
    *    inflates) a ~1e-5 event — the gate is already effectively exact,
    *    so more width only fattens the bitmaps.
    *
    * The pre-pass is ONE map-side-combined aggregation over the
    * occurrences computing the exact total `N` and an HLL++ distinct
    * estimate `D̂` (`approx_count_distinct`, rsd 5%) — constant state per
    * partition, a few-KB shuffle. Deliberately NOT
    * [[Sketches.kmvDistinct]]: KMV's bottom-k needs a `distinct()` of the
    * key hashes first, and that ~D-row distinct shuffle is the very
    * shuffle this gate exists to avoid — the pre-pass must stay
    * sketch-sized or the auto path costs what it saves. HLL is the
    * mergeable constant-state way to ask the same question. Both inputs
    * are deterministic, so the derived width (and hence the whole gate)
    * replays identically run to run.
    */
  def autoWidth(occurrences: DataFrame, key: Column, threshold: Long): Int = {
    require(threshold >= 1, s"threshold must be >= 1, got $threshold")
    val r = occurrences.agg(
      count(lit(1)).as("n"),
      approx_count_distinct(key, 0.05).as("d")).head()
    val (n, d) = (r.getLong(0), r.getLong(1))
    val target = math.min(8.0 * n / threshold, 16.0 * d)
    val clamped =
      math.min(MaxAutoWidth.toDouble, math.max(MinAutoWidth.toDouble, target))
    Integer.highestOneBit(math.ceil(clamped).toInt - 1) << 1 match {
      case w if w >= MinAutoWidth => math.min(w, MaxAutoWidth)
      case _ => MinAutoWidth
    }
  }

  /** [[heavyHitters]] with the width derived by [[autoWidth]] — the
    * no-tuning form. Three passes over the occurrences (size pre-pass,
    * sketch build, gated exact count), each map-side combined with a
    * sketch-sized shuffle; the extra pre-pass scan is what buys immunity
    * to the fixed-width saturation knee at any input size.
    */
  def heavyHittersAuto(occurrences: DataFrame, key: Column, threshold: Long,
                       depth: Int = 4): DataFrame =
    heavyHitters(occurrences, key, threshold, depth,
      autoWidth(occurrences, key, threshold))
}
