package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{ExactRound, TextFunctions}

/** Data Selection via Importance Resampling (DSIR — Xie et al., NeurIPS
  * 2023, arXiv:2302.03169): pick raw-corpus documents that look like a
  * small target domain by the likelihood ratio of two hashed-n-gram
  * bag-of-words models. The reference engine has no data-selection
  * operator; this is the published method every large pretraining pipeline
  * reaches for when "filter to target-like documents" has to run over the
  * whole crawl.
  *
  * Method: featurize each document as counts over `buckets` hash buckets of
  * its unigrams + bigrams; fit add-one-smoothed bucket distributions p (on
  * the target slice) and q (on the selection pool); per document, the log
  * importance weight is Σ_b c_b·(log p_b − log q_b); select by weight, or
  * Gumbel-resample with temperature for diversity.
  *
  * Scale shape (the reason DSIR works at crawl scale): model size is FIXED
  * at `buckets` rows regardless of corpus size, so both distributions
  * reduce to broadcastable tables; the per-document weight is one keyed
  * aggregation over feature rows joined to that broadcast. No shuffle
  * touches more than the corpus's (doc, bucket) pairs, and the only global
  * ordering is the final top-m over one LONG per document —
  * WindowGroupLimit keeps it a bounded selection, not a full sort.
  *
  * Determinism discipline: transcendentals (ln) are rounded at 8 digits the
  * moment they are computed (the idf precedent); per-bucket contributions
  * are integerized at e6 BEFORE the sum ([[ExactRound.eScaled]]) so the
  * document weight is exact integer arithmetic — order-independent under
  * partial aggregation and bit-equal in the DuckDB oracle. The Gumbel draw
  * uses the md5 token hash as its uniform, so even the "random" resample
  * hash-matches.
  */
object Dsir {

  /** Hashed unigram+bigram counts: (idCol, bucket, c). Bucket = md5 token
    * hash of the gram string mod `buckets` (portable across engines). */
  def featureCounts(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame = {
    val t = TextFunctions.tokens(col(textCol))
    val len2 = greatest(size(t) - 1, lit(0))
    val bigrams = zip_with(slice(t, lit(1), len2), slice(t, lit(2), len2),
      (a, b) => concat(a, lit(" "), b))
    docs.select(col(idCol), explode(concat(t, bigrams)).as("__g"))
      .select(col(idCol),
        pmod(TextFunctions.tokenHash(col("__g")), lit(buckets.toLong)).as("bucket"))
      .groupBy(col(idCol), col("bucket")).agg(count(lit(1)).as("c"))
  }

  /** Add-one-smoothed bucket log-probabilities of one corpus's features:
    * (sparse (bucket, logp) table, 1-row default logp for absent buckets).
    * p_b = (c_b + 1) / (n + buckets); ln rounded at 8 immediately. */
  def logProbs(feats: DataFrame, buckets: Int): (DataFrame, DataFrame) = {
    val bc = feats.groupBy(col("bucket")).agg(sum(col("c")).as("__bc"))
    val tot = bc.agg(coalesce(sum(col("__bc")), lit(0L)).as("__n"))
    val lp = bc.crossJoin(broadcast(tot)).select(col("bucket"),
      round(log((col("__bc").cast("double") + lit(1.0d)) /
        (col("__n").cast("double") + lit(buckets.toDouble))), 8).as("logp"))
    val dflt = tot.select(round(log(lit(1.0d) /
      (col("__n").cast("double") + lit(buckets.toDouble))), 8).as("logp0"))
    (lp, dflt)
  }

  /** The fitted selection model: λ_b = log p_target(b) − log q_pool(b) for
    * every bucket EITHER model has seen (≤ 2·`buckets` rows —
    * broadcastable by SIZE, not luck; the unseen side of each row falls
    * back to its add-one floor), plus the 1-row default λ for buckets
    * neither saw (only reachable when scoring documents from OUTSIDE the
    * fitted pool, e.g. a stream). */
  final case class LambdaModel(lam: DataFrame, default: DataFrame)

  /** Fit λ from a static pool and target slice — the offline half of DSIR:
    * fixed-size bucket models, add-one smoothing, ln rounded at 8. */
  def fitLambda(pool: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int): LambdaModel = {
    val pf = graft.Caches.cached(featureCounts(pool, idCol, textCol, buckets))
    val tf = featureCounts(target, idCol, textCol, buckets)
    val (tlp, tdflt) = logProbs(tf, buckets)
    val (plp, pdflt) = logProbs(pf, buckets)
    // The λ table covers every bucket EITHER model has seen (full outer
    // join; each side falls back to its add-one floor): a bucket the target
    // saw but the pool never did is precisely a target-signature novel
    // token, and out-of-pool scoring must rank it by its fitted target
    // probability — flooring it to the default would score it like
    // never-seen gibberish. For pool documents only pool buckets are ever
    // probed, so the batch path is unchanged.
    val dflt = tdflt.crossJoin(pdflt.withColumnRenamed("logp0", "__lq0"))
      .select(col("logp0").as("__lp0"), col("__lq0"))
    val lam = plp.withColumnRenamed("logp", "__lq")
      .join(tlp.withColumnRenamed("logp", "__lp"), Seq("bucket"), "full_outer")
      .crossJoin(broadcast(dflt))
      .select(col("bucket"),
        (coalesce(col("__lp"), col("__lp0")) -
          coalesce(col("__lq"), col("__lq0"))).as("__lam"))
    LambdaModel(lam, dflt.select((col("__lp0") - col("__lq0")).as("__lam0")))
  }

  /** Score documents against a fitted model: (idCol, w_e6) with
    * w = Σ_b c_b·λ_b, per-bucket contributions integerized at e6 BEFORE the
    * sum so the weight is exact integer arithmetic. Documents with no
    * tokens weigh 0; buckets the pool never saw take the default λ. */
  def scoreWith(model: LambdaModel, docs: DataFrame, idCol: String,
      textCol: String, buckets: Int): DataFrame = {
    val fc = featureCounts(docs, idCol, textCol, buckets)
    val terms = fc.join(broadcast(model.lam), Seq("bucket"), "left")
      .crossJoin(broadcast(model.default))
      .select(col(idCol),
        ExactRound.eScaled(col("c").cast("double") *
          coalesce(col("__lam"), col("__lam0")), 6)
          .cast("long").as("__t6"))
    docs.select(col(idCol))
      .join(terms.groupBy(col(idCol)).agg(sum(col("__t6")).as("__w")),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__w"), lit(0L)).cast("long").as("w_e6"))
  }

  /** Per-document log importance weight over the pool: (idCol, w_e6) with
    * w = Σ_b c_b·(log p_target(b) − log p_pool(b)), pinned as a
    * micro-scaled LONG. Documents with no tokens weigh 0. (For pool
    * documents every bucket is in the λ table, so the default leg of
    * [[scoreWith]] never fires here — the oracle replays the inner form.) */
  def importanceWeights(pool: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int): DataFrame =
    scoreWith(fitLambda(pool, target, idCol, textCol, buckets), pool,
      idCol, textCol, buckets)

  /** Streaming face: score an incoming document stream against the FIXED
    * fitted model, one broadcast join per micro-batch — the online half of
    * DSIR (filter the crawl as it arrives), through the
    * [[graft.streaming.MicroBatch]] bridge; per-batch results equal the batch
    * [[scoreWith]] of the same rows (asserted in DsirSpec). */
  def scoreStream(docStream: DataFrame, model: LambdaModel, idCol: String,
      textCol: String, buckets: Int)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.MicroBatch.start(docStream) { (batch, batchId) =>
      sink(scoreWith(model, batch, idCol, textCol, buckets), batchId)
    }

  /** Gumbel top-m resample (the DSIR selection step): key = w/τ + g where
    * g = −ln(−ln(u)) and u is the md5-uniform of the id — deterministic,
    * so the sample itself is oracle-checkable. Output: (idCol, rank,
    * key_e6), rank 1..m by key desc (ties → lowest id). Inner ln is
    * rounded at 8 before the outer ln so both engines feed ln identical
    * doubles (the transcendental discipline). */
  def gumbelTopM(weights: DataFrame, idCol: String, m: Int,
      tau: Double = 1.0, seed: String = "dsir"): DataFrame = {
    val u = (TextFunctions.tokenHash(concat(lit(seed), col(idCol).cast("string")))
      .cast("double") + lit(1.0d)) / lit(4294967297.0d)
    // Clamp below −1e-8: u within 5e-9 of 1 would round ln(u) to −0.0 at
    // digit 8 and the outer ln would produce +Inf.
    val l1 = least(round(log(u), 8), lit(-1.0e-8d))
    val g = round(-log(-col("__l1")), 8)
    val keyed = weights
      .withColumn("__l1", l1)
      .withColumn("__key", col("w_e6").cast("double") / lit(1e6d) / lit(tau) + g)
    // Distributed top-m (TakeOrderedAndProject), THEN rank the m survivors —
    // never a single-partition window over the full pool.
    val top = keyed.orderBy(col("__key").desc, col(idCol)).limit(m)
    val w = Window.orderBy(col("__key").desc, col(idCol))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col(idCol), col("rank"),
        ExactRound.eScaled(col("__key"), 6).cast("long").as("key_e6"))
  }
}
