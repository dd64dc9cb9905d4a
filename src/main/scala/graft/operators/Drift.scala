package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.ExactRound

/** Distribution-drift monitoring between two corpus snapshots — the check
  * a recurring ingest runs before promoting a new crawl batch: "does this
  * batch look like the corpus we trained on?" (data-shift monitoring as in
  * Rabanser et al., "Failing Loudly", NeurIPS 2019, done over token
  * unigram distributions).
  *
  * Input is ONE tagged token stream (`t`, `ga` boolean: true = snapshot A)
  * so both snapshots are counted in a single scan + one keyed aggregation;
  * the divergence is Jensen-Shannon (symmetric, bounded [0, ln 2], defined
  * even where one side has zero mass — KL is neither). Per-token terms are
  * IEEE doubles micro-scaled to integers ([[ExactRound.eScaled]]) before
  * the sum, so the reported figure is an exact integer — engine- and
  * partitioning-reproducible, DuckDB-replayable.
  *
  * Scale: O(vocab) state after the first aggregation; the 1-row totals
  * attach by broadcast cross join. At 100 TB both the scan and the
  * aggregation are the same shape as the LM-fit queries.
  */
object Drift {

  /** Tag + count: (t, ca, cb) per distinct token over the tagged stream. */
  private def counts(tok: DataFrame): DataFrame =
    tok.groupBy("t").agg(
      sum(when(col("ga"), 1L).otherwise(0L)).as("ca"),
      sum(when(!col("ga"), 1L).otherwise(0L)).as("cb"))

  private def withTotals(tok: DataFrame): DataFrame = {
    val cnt = counts(tok)
    cnt.crossJoin(broadcast(cnt.agg(
      sum(col("ca")).cast("long").as("ta"),
      sum(col("cb")).cast("long").as("tb"))))
  }

  private def pa: Column = col("ca").cast("double") / col("ta").cast("double")
  private def pb: Column = col("cb").cast("double") / col("tb").cast("double")

  /** 1-row summary: (jsd_e6, n_vocab, n_tokens_a, n_tokens_b). jsd_e6 is
    * the Jensen-Shannon divergence ×10⁶ as an exact integer (per-token
    * terms e8-scaled, rounded division by 100 at the end). */
  def jsdSummary(tok: DataFrame): DataFrame = {
    val m = (pa + pb) / lit(2.0d)
    val term = (when(col("ca") > 0, pa * log(pa / m)).otherwise(lit(0.0d))
      + when(col("cb") > 0, pb * log(pb / m)).otherwise(lit(0.0d))) * lit(0.5d)
    withTotals(tok)
      .select(ExactRound.eScaled(term, 8).cast("long").as("__d8"),
        col("ta"), col("tb"))
      .agg(ExactRound.roundDiv(sum(col("__d8")), lit(100L)).as("jsd_e6"),
        count(lit(1)).as("n_vocab"),
        max(col("ta")).as("n_tokens_a"),
        max(col("tb")).as("n_tokens_b"))
  }

  /** Top-`n` drifted tokens by |p_a − p_b|: (token, cnt_a, cnt_b,
    * delta_e6). Ordered and cut on the INTEGER delta (ties by token), so
    * the limit boundary is deterministic on every engine. */
  def topMovers(tok: DataFrame, n: Int): DataFrame =
    withTotals(tok)
      .select(col("t").as("token"), col("ca").as("cnt_a"), col("cb").as("cnt_b"),
        ExactRound.eScaled(abs(pa - pb), 6).cast("long").as("delta_e6"))
      .orderBy(col("delta_e6").desc, col("token"))
      .limit(n)

  /** Streaming face: monitor an incoming token stream batch-by-batch
    * against a STATIC reference distribution — the live form of the
    * promotion gate (each micro-batch emits one [[jsdSummary]] row, so a
    * dashboard reads drift per ingest batch). Batch-operator-behind-
    * foreachBatch like the other streaming faces: the divergence needs
    * the batch's full counts, so per-batch is the natural granularity.
    * `tokenStream` must have a `t` column; `reference` is the static
    * snapshot-A token frame. */
  def jsdStream(tokenStream: DataFrame, reference: DataFrame)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.MicroBatch.start(tokenStream) { (batch, batchId) =>
      val tagged = reference.select(lit(true).as("ga"), col("t"))
        .unionByName(batch.select(lit(false).as("ga"), col("t")))
      sink(jsdSummary(tagged), batchId)
    }

  // ---- DuckDB twins ---------------------------------------------------------

  private val paSql = "(CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE))"
  private val pbSql = "(CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE))"

  /** Shared count CTEs over a `tok(ga, t)` relation (callers provide the
    * tagged unnest). Ends in ct(t, ca, cb, ta, tb). */
  val countsCte: String =
    s"""cnt AS (SELECT t,
       |    CAST(sum(CASE WHEN ga THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |    CAST(sum(CASE WHEN NOT ga THEN 1 ELSE 0 END) AS BIGINT) AS cb
       |  FROM tok GROUP BY 1),
       |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS ta,
       |    CAST(sum(cb) AS BIGINT) AS tb FROM cnt),
       |ct AS (SELECT * FROM cnt CROSS JOIN tot)""".stripMargin

  /** Mirror of [[jsdSummary]]'s per-token term + final aggregate. */
  def jsdSummarySql: String = {
    val m = s"(($paSql + $pbSql) / 2.0)"
    val term = s"(CASE WHEN ca > 0 THEN $paSql * ln($paSql / $m) ELSE 0.0 END" +
      s" + CASE WHEN cb > 0 THEN $pbSql * ln($pbSql / $m) ELSE 0.0 END) * 0.5"
    s"""SELECT ${ExactRound.roundDivSql(s"sum(${ExactRound.eScaledSql(term, 8)})", "100")} AS jsd_e6,
       |  count(*) AS n_vocab,
       |  CAST(max(ta) AS BIGINT) AS n_tokens_a,
       |  CAST(max(tb) AS BIGINT) AS n_tokens_b
       |FROM ct""".stripMargin
  }

  /** Mirror of [[topMovers]]. */
  def topMoversSql(n: Int): String =
    s"""SELECT t AS token, ca AS cnt_a, cb AS cnt_b,
       |  ${ExactRound.eScaledSql(s"abs($paSql - $pbSql)", 6)} AS delta_e6
       |FROM ct
       |ORDER BY delta_e6 DESC, token
       |LIMIT $n""".stripMargin
}
