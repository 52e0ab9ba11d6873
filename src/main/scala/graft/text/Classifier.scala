package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** FastText-style hashed linear text classifier (Joulin et al. 2016,
  * arXiv:1607.01759 — "Bag of Tricks for Efficient Text
  * Classification"), with the closed-form multinomial Naive Bayes
  * weights of the classic bag-of-words baseline instead of SGD: the
  * model a large-scale curation pipeline actually deploys for cheap
  * labeling passes (quality tiers, language, domain) because training
  * is two aggregations and inference rides the scan.
  *
  * The scalability hinge is the HASHING TRICK (Weinberger et al. 2009,
  * arXiv:0902.2206): features are md5-hashed token buckets, so the
  * model is ≤ `nBuckets · |classes|` rows BY CONSTRUCTION — bounded by
  * configuration, not by the corpus vocabulary — which is what makes
  * the weight table legitimately broadcastable at 100 TB where a
  * vocabulary-keyed model ([[TextAnalysis.tfidf]]'s df discipline)
  * never is. No reference analog (SURVEY.md §2's text ops stop at
  * tokenize/regex); this extends the curation layer like the DSIR
  * selector in [[graft.PipelineQueries]], whose 2-class log-ratio is
  * the degenerate binary form of this multiclass model.
  */
object Classifier {

  /** Train-and-predict multinomial NB over hashed bag-of-words
    * features, self-supervised on `labelCol` (the standard oracle-able
    * evaluation: fit on the corpus labels, score every doc, compare
    * prediction to truth). Add-one smoothing; class priors from doc
    * counts. Output: one row per doc with ≥1 token — (id, labelCol,
    * pred, score), score = round-6 of `logprior + Σ_b n_b · w(b,cls)`
    * for the argmax class (ties break on class name ascending; scores
    * round BEFORE the argmax window so libm ulps cannot flip it — the
    * tfidf/bm25 ranking discipline).
    *
    * Plan shape at corpus scale: ONE tokenize+hash pass (checkpointed —
    * it feeds class totals, bucket counts, and per-doc counts), two
    * model aggregates whose outputs are bounded by `nBuckets·|classes|`
    * and `|classes|` rows (both broadcast), then a per-(doc, bucket)
    * partial agg joined against the broadcast model — the corpus never
    * shuffles on a vocabulary key. The |classes|-row crossJoin is the
    * multiclass scoring fan-out (each doc-bucket row scores against
    * every class), bounded by the label alphabet, not by data.
    *
    * Determinism: log weights and priors quantize to integer NANO-units
    * (`round(ln(·)·1e9)::long`) before any sum, so the per-class score
    * accumulates as an exact integer — partitioning order and engine
    * cannot move it by an ulp and flip a round-6 boundary or the argmax
    * (the [[graft.sim.Similarity.meanPool]] quantized-trajectory
    * discipline; a float sum measurably flips the 6th digit at corpus
    * size). The reported score divides back once at the end.
    */
  def nbPredict(docs: DataFrame, labelCol: String = "lang",
                nBuckets: Int = 64, text: String = "text",
                id: String = "doc_id"): DataFrame = {
    val ranked = nbRanked(docs, labelCol, nBuckets, text, id)
    ranked.where(col("_rn") === 1)
      .select(col(id), col("_lbl").as(labelCol), col("_cls").as("pred"),
        col("score"))
  }

  /** [[nbPredict]] plus the CONFIDENCE MARGIN — the gate a
    * self-training / auto-labeling pass actually filters on (Scudder
    * 1965's self-training rule as used in modern curation): `margin` =
    * best score − runner-up score (nats; both round-6 of exact integer
    * nano-sums, so the difference is bit-stable), `confident` = margin
    * ≥ `minMargin`. Low-margin docs are the ones a pipeline routes to
    * a stronger model or drops. A mono-label corpus has no runner-up:
    * the margin saturates to the defined sentinel [[SoloMargin]]
    * (1e6 nats — above any real margin, so `confident` is true) rather
    * than going NULL and silently dropping every row from downstream
    * `confident` filters. Same plan as [[nbPredict]] with one extra
    * `lead` over the already-present per-doc ranking window — no
    * additional shuffle.
    */
  def nbMargin(docs: DataFrame, minMargin: Double = 2.0,
               labelCol: String = "lang", nBuckets: Int = 64,
               text: String = "text", id: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col(id))
      .orderBy(col("score").desc, col("_cls"))
    nbRanked(docs, labelCol, nBuckets, text, id)
      .withColumn("_next", lead(col("score"), 1).over(w))
      .where(col("_rn") === 1)
      .select(col(id), col("_lbl").as(labelCol), col("_cls").as("pred"),
        col("score"),
        round(coalesce(col("score") - col("_next"), lit(SoloMargin)), 6)
          .as("margin"))
      .withColumn("confident", col("margin") >= lit(minMargin))
  }

  /** Saturated margin for a prediction with no runner-up (single
    * distinct label in the corpus): a defined, finite sentinel so the
    * margin column is never NULL. 1e6 nats exceeds any achievable real
    * margin by orders of magnitude.
    */
  val SoloMargin: Double = 1e6

  /** Reliability curve of the classifier: accuracy per integer margin
    * bin (`least(floor(margin), maxBin)` — the top bin collects the
    * saturated tail). The evaluation artifact that decides where to
    * set [[nbMargin]]'s threshold. Output is ≤ maxBin+1 rows — a
    * metadata-sized aggregate over the prediction stream.
    */
  def nbCalibration(docs: DataFrame, maxBin: Int = 20,
                    labelCol: String = "lang", nBuckets: Int = 64,
                    text: String = "text", id: String = "doc_id")
      : DataFrame = {
    nbMargin(docs, 0.0, labelCol, nBuckets, text, id)
      .select(least(floor(col("margin")), lit(maxBin.toDouble)).cast("long")
          .as("margin_bin"),
        when(col("pred") === col(labelCol), 1L).otherwise(0L).as("_hit"))
      .groupBy(col("margin_bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_hit")).as("n_correct"))
      .select(col("margin_bin"), col("n_docs"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n_docs"), 6)
          .as("accuracy"))
  }

  /** Shared scoring core: every (doc, class) score with its per-doc
    * rank (score desc, class asc). Internal columns `_lbl`/`_cls`/`_rn`
    * are the callers' contract.
    */
  private def nbRanked(docs: DataFrame, labelCol: String,
                       nBuckets: Int, text: String,
                       id: String): DataFrame = {
    require(nBuckets >= 2, "nBuckets must be >= 2")
    val bkt = graft.ops.Checkpoints.truncate(
      docs.select(col(id), col(labelCol).as("_lbl"),
          explode(TextAnalysis.tokenize(col(text))).as("w"))
        .select(col(id), col("_lbl"),
          // digest nibbles → bucket
          // directly, skipping the 32-char hex render + conv parse per
          // token (value-identical — HashExprSpec)
          (graft.functions.HashExpressions.md5PrefixLong(col("w"), 15)
            % nBuckets).as("b")))
    val nd = docs.agg(count(lit(1)).as("_nd"))
    val classTbl = docs.groupBy(col(labelCol).as("_cls"))
      .agg(count(lit(1)).as("_ndl"))
      .join(bkt.groupBy(col("_lbl").as("_cls")).agg(count(lit(1)).as("_totl")),
        "_cls")
      .crossJoin(broadcast(nd))
      .select(col("_cls"),
        round(log(col("_ndl").cast("double") / col("_nd")) * lit(1e9))
          .cast("long").as("_logprior"),
        col("_totl"))
    val wt = bkt.groupBy(col("b"), col("_lbl").as("_cls"))
      .agg(count(lit(1)).as("_c"))
      .join(classTbl.select(col("_cls"), col("_totl")), "_cls")
      .select(col("b"), col("_cls"),
        round(log((col("_c") + lit(1.0)) /
          (col("_totl") + lit(nBuckets.toDouble))) * lit(1e9))
          .cast("long").as("_w"))
    val w0 = classTbl.select(col("_cls"), col("_logprior"),
      round(log(lit(1.0) / (col("_totl") + lit(nBuckets.toDouble))) * lit(1e9))
        .cast("long").as("_w0"))
    val pd = bkt.groupBy(col(id), col("_lbl"), col("b"))
      .agg(count(lit(1)).as("_n"))
    val scored = pd.crossJoin(broadcast(w0))
      .join(broadcast(wt), Seq("b", "_cls"), "left")
      .groupBy(col(id), col("_lbl"), col("_cls"), col("_logprior"))
      .agg(sum(col("_n") * coalesce(col("_w"), col("_w0"))).as("_s"))
      .select(col(id), col("_lbl"), col("_cls"),
        round((col("_logprior") + col("_s")).cast("double") / lit(1e9), 6)
          .as("score"))
    val w = Window.partitionBy(col(id))
      .orderBy(col("score").desc, col("_cls"))
    scored.withColumn("_rn", row_number().over(w))
  }
}
