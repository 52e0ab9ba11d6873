package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import graft.dedup.Dedup

/** Streaming NEAR-dup ingest (r14 verdict stretch): the crawl front
  * door's stateless ingest composed with the batch-incremental near-dup
  * pass, so a CONTINUOUS ingest dedups in-stream instead of staging
  * batches for `Dedup.incrementalNearDups` replays.
  *
  * Shape: the scalar dedup keys ([[Dedup.minhashBandKeys]] — the
  * `graft_minhash_bands` surface) ride the scan, `posexplode` turns them
  * into (band, bkey) rows, and a `flatMapGroupsWithState` keyed on the
  * band bucket holds the documents previously seen in that bucket. Each
  * arriving doc is Jaccard-verified against the bucket's state and the
  * verified pairs stream out append-mode; the arrival then joins the
  * state so later micro-batches dedup against it.
  *
  * Stream ≡ batch: with history in micro-batch 1 and a new batch in
  * micro-batch 2 (checkpointed AvailableNow runs), the emitted pairs are
  * exactly `Dedup.incrementalNearDups(batch, history)` — same banding,
  * same bucket-eligibility ceiling, same ≥ threshold verification —
  * certified by q_stream_neardup's DuckDB oracle and the
  * EventStreamsSpec equivalence. The one deliberate difference: the
  * verify intersects distinct 60-bit SHINGLE HASHES (what the state can
  * afford to hold — 8 bytes per shingle) rather than shingle strings;
  * the oracle replays the identical hash-set arithmetic.
  *
  * Scale: state per bucket is CAPPED — once a bucket accumulates more
  * than `maxBucket` documents it is poisoned (stored size pins at
  * maxBucket + 1, matching arrivals stop matching) exactly like the
  * history-side `okBuckets` ceiling in [[Dedup.incrementalNearDups]]:
  * corpus-wide boilerplate buckets must not hold O(corpus) state or
  * emit O(n²) pairs. Everything else is one shuffle (the groupByKey on
  * (band, bkey)) per micro-batch, and the per-pair verify touches only
  * same-bucket docs. Reference shape being re-expressed: the reference
  * engine's streaming dedup staging (mapred job chains over
  * SequenceFile batches) — here the state store IS the published band
  * table.
  */
object StreamDedup {

  /** One (band, bucket) arrival: the doc and its distinct shingle-hash
    * set (sorted array — Datasets need a concrete encodable field).
    */
  case class BandedDoc(band: Int, bkey: String, docId: Long,
                       shingles: Array[Long])

  /** [[BandedDoc]] plus the doc's event time — the TTL variant's state
    * must know how old each history doc is. Kept as a Timestamp field:
    * the watermark METADATA rides the original column attribute, and
    * the event-time-timeout checker requires that attribute to survive
    * into the stateful operator's input (a `unix_millis` projection
    * strips it).
    */
  case class BandedDocT(band: Int, bkey: String, docId: Long,
                        ts: java.sql.Timestamp, shingles: Array[Long])

  /** TTL bucket state: (docId, event-time ms, shingle hashes) per doc. */
  case class BucketStateT(docs: List[(Long, Long, Array[Long])])

  /** Bucket state: (docId, shingle hashes) for every doc seen in this
    * bucket, capped at maxBucket + 1 entries (the +1 pins "over the
    * ceiling" without unbounded growth).
    */
  case class BucketState(docs: List[(Long, Array[Long])])

  /** A verified near-dup emission: `newId` arrived after `histId`. */
  case class NearDupPair(batch_id: Long, hist_id: Long, jaccard: Double)

  /** Exact Jaccard over two distinct-hash sets, rounded at 6 digits with
    * HALF_UP — bit-identical to [[Dedup.ngramJaccard]]'s
    * `round(inter / (szA + szB - inter), 6)` column arithmetic.
    */
  private[streaming] def jaccard(a: Set[Long], b: Set[Long]): Double = {
    val inter = a.count(b.contains)
    val denom = a.size + b.size - inter
    if (denom <= 0) 0.0
    else BigDecimal(inter.toDouble / denom)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Verified near-dup pairs from a STREAMING `(doc_id, text)` frame.
    * Arrivals match only docs from EARLIER micro-batches (bucket state),
    * never their own batch — so two checkpointed AvailableNow runs
    * (history file, then batch file) reproduce
    * `incrementalNearDups(batch, history)` pair for pair. Within one
    * micro-batch, arrivals enter the state in doc-id order, so the
    * capped state's membership is deterministic regardless of task
    * scheduling.
    */
  def nearDupPairs(docs: DataFrame, threshold: Double = 0.8,
                   numPerms: Int = 8, rowsPerBand: Int = 2,
                   shingleN: Int = 3,
                   maxBucket: Int = 1000): Dataset[NearDupPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE shingle-hash pass feeds both the verify set and the band keys
    // (r16, guide §4 per-task work): as two separate output columns each
    // re-tokenized and re-md5'd the document — the dominant scan cost.
    // The fused struct rides an explodeOnce Generate barrier so field
    // extraction cannot re-inline it (see ColumnUtil.explodeOnce).
    val keyed = graft.ColumnUtil.bindOnce(
      graft.functions.HashExpressions.shingleHashes(
        col("text"), shingleN, distinct = true), hs =>
      struct(
        // distinct 60-bit shingle hashes, sorted: the verify SET
        array_sort(array_distinct(hs)).as("shingles"),
        Dedup.minhashBandKeysFromHashes(hs, numPerms, rowsPerBand)
          .as("bkeys")))
    val banded = docs
      .select(col("doc_id").cast("long").as("docId"),
        graft.ColumnUtil.explodeOnce(keyed).as("k"))
      // NULL band keys (null/empty text) posexplode to no rows —
      // matching the batch path, where such docs get no signature row
      .select(col("docId"), col("k.shingles").as("shingles"),
        posexplode(col("k.bkeys")))
      .select(col("pos").as("band"), col("col").as("bkey"),
        col("docId"), col("shingles"))
      .as[BandedDoc]
    banded
      .groupByKey(r => (r.band, r.bkey))
      .flatMapGroupsWithState[BucketState, NearDupPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, state) =>
          val st = state.getOption.getOrElse(BucketState(Nil))
          // doc-id order: deterministic emissions AND deterministic cap
          // membership within a micro-batch
          val arrivals = rows.toSeq.sortBy(_.docId)
          // bucket eligible ⇔ history size ≤ maxBucket — the okBuckets
          // ceiling of the batch formulation
          val out =
            if (st.docs.isEmpty || st.docs.size > maxBucket) Seq.empty
            else for {
              a <- arrivals
              (hid, hsh) <- st.docs
              j = jaccard(a.shingles.toSet, hsh.toSet)
              if j >= threshold
            } yield NearDupPair(a.docId, hid, j)
          // append arrivals (they are history for LATER batches), capped
          // at maxBucket + 1 so a boilerplate bucket stays poisoned at
          // O(maxBucket) state instead of growing with the stream
          val room = maxBucket + 1 - st.docs.size
          if (room > 0)
            state.update(BucketState(
              st.docs ::: arrivals.take(room)
                .map(a => (a.docId, a.shingles)).toList))
          out.iterator
      }
  }

  /** One (band, bucket) arrival for the FRONT DOOR: the doc, its exact
    * text hash (the exact-dedup key) and its shingle-hash verify set.
    */
  case class FrontDoorDoc(band: Int, bkey: String, docId: Long,
                          textHash: String, shingles: Array[Long])

  /** Front-door bucket state: (docId, textHash, shingles) per admitted
    * doc — exact dups are never admitted, so each text hash has exactly
    * one holder (the earliest arrival), which makes it the canonical
    * doc every later exact dup maps to.
    */
  case class FrontDoorState(docs: List[(Long, String, Array[Long])])

  /** A front-door emission: `new_id` matched `dup_id` — exactly
    * (`exact`, jaccard 1.0) or fuzzily (jaccard ≥ threshold).
    */
  case class FrontDoorHit(new_id: Long, dup_id: Long, jaccard: Double,
                          exact: Boolean)

  /** The streaming crawl FRONT DOOR (r15 verdict stretch): ingest →
    * exact-dedup → near-dup flag as ONE stream graph. Input is the raw
    * crawl surface `(crawl_id, html)`; the stateless ingest stage
    * extracts main text (the q_stream_ingest contract —
    * `Html.htmlMainText`, block joints flattened to spaces), and a
    * single `flatMapGroupsWithState` keyed on the LSH band bucket runs
    * BOTH dedup stages against the bucket state:
    *
    *  - exact: an arrival whose md5 text hash matches a state doc (or
    *    an earlier same-batch arrival) emits `(new, holder, 1.0,
    *    exact=true)` and is NOT admitted — identical text means
    *    identical band keys, so the holder shares every bucket of the
    *    dup and the per-bucket check is complete. This reproduces
    *    `Dedup.exact`'s canonical-min semantics (the holder is the
    *    earliest arrival of that hash) without a second stateful
    *    operator — chaining dropDuplicates into
    *    flatMapGroupsWithState is not a supported stream shape.
    *  - near: exact-survivor arrivals Jaccard-verify against state docs
    *    from EARLIER micro-batches only (the [[nearDupPairs]] /
    *    `incrementalNearDups` contract), then join the state as history
    *    for later batches.
    *
    * Stream ≡ batch: with history in micro-batch 1 and a crawl batch in
    * micro-batch 2, the batch-doc emissions equal the batch front door
    * — `Dedup.exact` dup mapping over history ∪ batch, then
    * `Dedup.incrementalNearDups(exact-survivors, hash-canonical
    * history)` — certified by q_stream_frontdoor's DuckDB replay and
    * the EventStreamsSpec equivalence.
    *
    * Scale: per micro-batch one groupByKey shuffle; per-pair work
    * touches same-bucket docs only; state capped at maxBucket + 1 docs
    * per bucket with poisoning exactly like [[nearDupPairs]] (a
    * poisoned bucket stops emitting NEAR pairs; exact detection keeps
    * working against the retained prefix — best-effort there, complete
    * at the certification's effectively-unbounded cap). For a
    * continuous ingest compose with the TTL state discipline of
    * [[nearDupPairsTtl]]. The bucket state is one value per bucket:
    * every touched bucket's whole doc list is decoded and rewritten each
    * micro-batch, whichever state-store provider holds it (ROADMAP
    * item 3 has the measured case against a `transformWithState` port).
    */
  def frontDoor(pages: DataFrame, threshold: Double = 0.8,
                numPerms: Int = 8, rowsPerBand: Int = 2,
                shingleN: Int = 3,
                maxBucket: Int = 1000000): Dataset[FrontDoorHit] = {
    val spark = pages.sparkSession
    import spark.implicits._
    // ONE htmlMainText extraction and ONE shingle-hash pass per page
    // (r16): the previous two-step projection let CollapseProject inline
    // the extraction into every consumer (md5, verify set, band keys —
    // 3 full extractions/row) and hashed the shingles twice. The fused
    // struct binds text then the hash array once, behind an explodeOnce
    // Generate barrier (see ColumnUtil.explodeOnce).
    val keyed = graft.ColumnUtil.bindOnce(
      replace(graft.text.Html.htmlMainText(col("html")),
        lit("\n"), lit(" ")), txt =>
      graft.ColumnUtil.bindOnce(
        graft.functions.HashExpressions.shingleHashes(
          txt, shingleN, distinct = true), hs =>
        struct(md5(txt).as("textHash"),
          array_sort(array_distinct(hs)).as("shingles"),
          Dedup.minhashBandKeysFromHashes(hs, numPerms, rowsPerBand)
            .as("bkeys"))))
    val banded = pages
      .select(col("crawl_id").cast("long").as("docId"),
        graft.ColumnUtil.explodeOnce(keyed).as("k"))
      .select(col("docId"), col("k.textHash").as("textHash"),
        col("k.shingles").as("shingles"), posexplode(col("k.bkeys")))
      .select(col("pos").as("band"), col("col").as("bkey"),
        col("docId"), col("textHash"), col("shingles"))
      .as[FrontDoorDoc]
    banded
      .groupByKey(r => (r.band, r.bkey))
      .flatMapGroupsWithState[FrontDoorState, FrontDoorHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, rows, state) =>
          val hist = state.getOption.map(_.docs).getOrElse(Nil)
          val arrivals = rows.toSeq.sortBy(_.docId) // deterministic order
          val out = scala.collection.mutable.ArrayBuffer[FrontDoorHit]()
          // arrivals admitted THIS batch (exact-survivors), arrival order
          var admitted = List.empty[(Long, String, Array[Long])]
          // near eligibility is the okBuckets ceiling over the HISTORY
          // side, decided before this batch's arrivals join the state
          val nearEligible = hist.nonEmpty && hist.size <= maxBucket
          arrivals.foreach { a =>
            // exact holder: earliest arrival of this hash — state docs
            // precede same-batch arrivals, both in arrival order
            (hist.iterator ++ admitted.reverseIterator)
              .find(_._2 == a.textHash) match {
              case Some((hid, _, _)) =>
                out += FrontDoorHit(a.docId, hid, 1.0, exact = true)
              // exact dups are dropped by the front door: not admitted,
              // no near verification (the batch pipeline removes them
              // before the near-dup stage)
              case None =>
                if (nearEligible) hist.foreach { case (hid, _, hsh) =>
                  val j = jaccard(a.shingles.toSet, hsh.toSet)
                  if (j >= threshold)
                    out += FrontDoorHit(a.docId, hid, j, exact = false)
                }
                admitted = (a.docId, a.textHash, a.shingles) :: admitted
            }
          }
          val room = maxBucket + 1 - hist.size
          if (room > 0 && admitted.nonEmpty)
            state.update(FrontDoorState(
              hist ::: admitted.reverse.take(room)))
          out.iterator
      }
  }

  /** [[nearDupPairs]] with an EVENT-TIME TTL on the bucket state — the
    * true-continuous-ingest form (r15 verdict #5). [[nearDupPairs]]'
    * state is bounded per bucket but never evicted globally, so a crawl
    * ingest that runs for months accumulates state ∝ corpus shingle
    * mass. Here every state doc carries its event time and ages out of
    * the dedup horizon: a doc expires once `ts + horizonMs` falls
    * behind the stream's watermark (the `dedupStream` /
    * dropDuplicatesWithinWatermark pattern applied to the near-dup
    * state), and a bucket whose docs have all expired is REMOVED via
    * `EventTimeTimeout` — total state is O(docs within the horizon),
    * not O(stream lifetime).
    *
    * Semantics: pairs emitted are exactly
    * `incrementalNearDups(batch, history WITHIN the horizon)` — history
    * docs with `ts + horizonMs > watermark` at the batch's processing
    * time. Eviction is watermark-relative (standard streaming
    * semantics): the watermark trails the max event time seen by
    * `delay`, so the batch replay's history filter uses the same
    * watermark value. Expiry can also UN-poison an over-ceiling bucket
    * as its boilerplate ages out — deliberate: the ceiling protects
    * state size at any instant, and the horizon is the instant's width.
    *
    * `docs` must carry `doc_id`, `text` and an event-time column
    * `tsCol`; the watermark is applied here (`delay` as in
    * `withWatermark`).
    */
  def nearDupPairsTtl(docs: DataFrame, tsCol: String, horizonMs: Long,
                      delay: String = "0 seconds",
                      threshold: Double = 0.8,
                      numPerms: Int = 8, rowsPerBand: Int = 2,
                      shingleN: Int = 3,
                      maxBucket: Int = 1000): Dataset[NearDupPair] = {
    require(horizonMs > 0, "horizonMs must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    // normalize FIRST, watermark the normalized column, then only
    // project the attribute through: the watermark tag lives in the
    // column attribute's metadata and must reach the stateful operator
    // same one-pass fused keying as [[nearDupPairs]] (r16)
    val keyed = graft.ColumnUtil.bindOnce(
      graft.functions.HashExpressions.shingleHashes(
        col("text"), shingleN, distinct = true), hs =>
      struct(array_sort(array_distinct(hs)).as("shingles"),
        Dedup.minhashBandKeysFromHashes(hs, numPerms, rowsPerBand)
          .as("bkeys")))
    val banded = docs
      .where(col(tsCol).isNotNull) // a null event time cannot age
      .select(col("doc_id").cast("long").as("docId"),
        col(tsCol).cast("timestamp").as("ts"), col("text"))
      .withWatermark("ts", delay)
      .select(col("docId"), col("ts"),
        graft.ColumnUtil.explodeOnce(keyed).as("k"))
      .select(col("docId"), col("ts"), col("k.shingles").as("shingles"),
        posexplode(col("k.bkeys")))
      .select(col("pos").as("band"), col("col").as("bkey"),
        col("docId"), col("ts"), col("shingles"))
      .as[BandedDocT]
    banded
      .groupByKey(r => (r.band, r.bkey))
      .flatMapGroupsWithState[BucketStateT, NearDupPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, rows, state) =>
          val wm = state.getCurrentWatermarkMs()
          val prior = state.getOption.map(_.docs).getOrElse(Nil)
          // age-out: a doc is history only while its event time is
          // within horizonMs of the watermark
          val live = prior.filter { case (_, ts, _) => ts + horizonMs > wm }
          // the next instant this bucket needs attention: its youngest
          // doc's expiry (must sit strictly above the watermark —
          // late-data arrivals can carry ts at/below it)
          def armTimeout(docs: List[(Long, Long, Array[Long])]): Unit =
            state.setTimeoutTimestamp(
              math.max(docs.map(_._2).max + horizonMs, wm + 1))
          if (state.hasTimedOut) {
            // no new arrivals; drop expired docs, remove an empty bucket
            if (live.isEmpty) state.remove()
            else { state.update(BucketStateT(live)); armTimeout(live) }
            Iterator.empty
          } else {
            val arrivals = rows.toSeq.sortBy(_.docId)
            // bucket eligible ⇔ LIVE history ≤ maxBucket (the okBuckets
            // ceiling over the docs still within the horizon)
            val out =
              if (live.isEmpty || live.size > maxBucket) Seq.empty
              else for {
                a <- arrivals
                (hid, _, hsh) <- live
                j = jaccard(a.shingles.toSet, hsh.toSet)
                if j >= threshold
              } yield NearDupPair(a.docId, hid, j)
            val room = maxBucket + 1 - live.size
            val updated =
              if (room > 0)
                live ::: arrivals.take(room)
                  .map(a => (a.docId, a.ts.getTime, a.shingles)).toList
              else live
            if (updated.nonEmpty) {
              state.update(BucketStateT(updated)); armTimeout(updated)
            } else if (state.exists) state.remove()
            out.iterator
          }
      }
  }
}
