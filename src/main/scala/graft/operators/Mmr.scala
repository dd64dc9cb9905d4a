package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein, SIGIR'98):
  * pick k results that are RELEVANT to the query but DIVERSE among
  * themselves — the standard fix when a plain top-k returns k paraphrases
  * of one document (retrieval-augmented pipelines dedup their context
  * windows exactly this way).
  *
  * score(d) = λ·sim(q, d) − (1−λ)·max_{s∈S} sim(d, s), greedily for k
  * rounds over a top-`fetch` candidate pool; λ=1 degenerates to plain
  * top-k (the hash-gated parity `knn_mmr_lambda1` pins the iterative
  * machinery to the one-shot oracle), λ<1 trades relevance for spread
  * (pinned by an in-plan diversity assertion, `knn_mmr_diverse` — the
  * greedy recursion isn't expressible in portable SQL).
  *
  * Scale shape: the candidate pool is the bounded top-`fetch` per query
  * (|Q|·fetch rows total — the same bounded-heap reduce as
  * [[KnnJoin.exact]]); each of the k greedy rounds is one keyed join of
  * remaining×selected on the query id plus a per-query argmax (a
  * fetch-bounded aggregation, never corpus-wide), with per-round
  * `localCheckpoint` lineage truncation like the CC loops. Work is
  * O(|Q|·fetch·k) — independent of corpus size once the pool is built.
  *
  * Determinism: similarities come from the fused cosine expression both
  * engines evaluate bit-identically; every argmax ties to the LOWEST
  * candidate id via struct ordering. All sims are cosine (query-doc and
  * doc-doc) — MMR's usual instantiation. */
object Mmr {

  /** (queryIdCol, idCol, rank 1..k, score round-6) — rank in selection
    * order (rank 1 = the plain top-1; later ranks trade off diversity). */
  def rerank(queries: DataFrame, queryIdCol: String, queryVecCol: String,
      corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      fetch: Int, lambda: Double): DataFrame = {
    require(k >= 1, s"Mmr: k=$k must be >= 1")
    require(fetch >= k, s"Mmr: fetch=$fetch must be >= k=$k")
    require(lambda >= 0 && lambda <= 1, s"Mmr: lambda=$lambda outside [0, 1]")
    val cv = corpus.select(col(idCol).as("__cid"),
      col(vecCol).cast("array<double>").as("__cv"))
    // Bounded candidate pool with the CANDIDATE vectors attached (doc-doc
    // sims are all the rounds need; query-doc relevance is already the
    // precomputed __rel, so the query vector is not carried): top-`fetch`
    // by query-doc cosine similarity (= 1 − the distance KnnJoin ranks by).
    val pool0 = KnnJoin.exact(queries, queryIdCol, queryVecCol, corpus,
        idCol, vecCol, fetch, VectorFunctions.Cosine)
      .select(col(queryIdCol), col(idCol).as("__cid"),
        (lit(1.0d) - col("dist")).as("__rel"))
      .join(cv, "__cid")
      .localCheckpoint()
    // Greedy selection with the diversity penalty maintained INCREMENTALLY
    // (r17, guide §1.2 step 1 — fix the distributed algorithm): max over a
    // growing set is associative, so max_{s∈S_t} sim(d, s) =
    // max(max_{s∈S_{t-1}} sim(d, s), sim(d, pick_t)) — each round updates a
    // running `__maxsim` column against ONLY the newest pick (one row per
    // query, broadcast-sized) instead of re-joining remaining × |S_t| and
    // re-aggregating. Per-query work drops from O(fetch·k²) sims to
    // O(fetch·k), and the per-round plan loses its groupBy exchange. Scores
    // are bit-identical: the same fused-cosine expression evaluates the
    // same (candidate, pick) pairs, and a float max has no summation-order
    // hazard (unlike a sum, max is exact under any association).
    val wBest = Window.partitionBy(col(queryIdCol))
    def pickBest(scored: DataFrame): DataFrame = scored
      .withColumn("__best", min(struct(negate(col("__score")).as("s"),
        col("__cid").as("c"))).over(wBest))
      .filter(col("__best.c") === col("__cid"))
      .drop("__best")
    val simToPick = lit(1.0d) - VectorFunctions.fusedDistance("cosine")(
      col("__cv"), col("__sv"))
    val first = pickBest(
        pool0.withColumn("__score", lit(lambda) * col("__rel")))
      .withColumn("rank", lit(1L))
      .localCheckpoint()
    var picks = Vector(first.select(col(queryIdCol), col("__cid"),
      col("rank"), col("__score")))
    // remaining: pool rows not yet picked, carrying the running __maxsim
    // against everything selected so far.
    var remaining = pool0
      .join(first.select(col(queryIdCol), col("__cid")),
        Seq(queryIdCol, "__cid"), "left_anti")
      .join(first.select(col(queryIdCol), col("__cv").as("__sv")), queryIdCol)
      .withColumn("__maxsim", simToPick)
      .drop("__sv")
      .localCheckpoint()
    for (t <- 2 to k) {
      val pick = pickBest(remaining.withColumn("__score",
          lit(lambda) * col("__rel") - lit(1.0d - lambda) * col("__maxsim")))
        .withColumn("rank", lit(t.toLong))
        .localCheckpoint()
      picks :+= pick.select(col(queryIdCol), col("__cid"), col("rank"),
        col("__score"))
      // The last round's pick completes the output — no remaining update
      // (the old form paid one dead anti-join + checkpoint job there).
      if (t < k)
        remaining = remaining
          .join(pick.select(col(queryIdCol), col("__cid")),
            Seq(queryIdCol, "__cid"), "left_anti")
          .join(pick.select(col(queryIdCol), col("__cv").as("__sv")),
            queryIdCol)
          .withColumn("__maxsim", greatest(col("__maxsim"), simToPick))
          .drop("__sv")
          .localCheckpoint()
    }
    picks.reduce(_ unionAll _)
      .select(col(queryIdCol), col("__cid").as(idCol), col("rank"),
        round(col("__score"), 6).as("score"))
  }

  /** Streaming face — diversified retrieval for an arriving query stream
    * against the static corpus: each micro-batch runs the identical batch
    * [[rerank]] (the foreachBatch bridge every static-corpus search face
    * here uses; the greedy rounds are batch-only). Batches are independent
    * (selection depends on the corpus and the batch's own queries), so
    * per-batch output equals the batch operator on the same rows
    * (asserted in MmrSpec). */
  def rerankStream(queryStream: DataFrame, queryIdCol: String,
      queryVecCol: String, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, fetch: Int, lambda: Double)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.MicroBatch.start(queryStream) { (batch, batchId) =>
      sink(rerank(batch, queryIdCol, queryVecCol, corpus, idCol, vecCol,
        k, fetch, lambda), batchId)
    }
}
