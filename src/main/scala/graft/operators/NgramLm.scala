package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.tokens

/** Persisted interpolated-bigram language model with the full index
  * lifecycle — the perplexity-filter shape a CCNet-style pipeline runs at
  * corpus scale (Wenzek et al. 2020 score every crawl document against a
  * KenLM trained on a reference corpus; the model is TRAINED ONCE and
  * PROBED per ingest batch). The live `text_bigram_logprob` query re-counts
  * the corpus on every call — O(corpus) per scoring run, which at 100 TB
  * dwarfs the per-batch work. This operator splits it the way every other
  * index here does:
  *
  *  1. '''[[buildStore]]''' (once, amortized): unigram and bigram counts
  *     persisted as BUCKETED tables keyed on the columns scoring probes
  *     (`t` for unigrams, `(p, t)` for bigrams), so per-batch probes reuse
  *     the stored HashPartitioning and never reshuffle the model side.
  *  2. '''[[appendToStore]]''' / '''[[deleteFromStore]]''' (per ingest batch /
  *     takedown): both tables are [[CountStore]]s, so ingest adds the
  *     batch's counts, a takedown adds them negated, probes read net
  *     counts and [[compactStore]] purges net-zero grams.
  *  3. '''[[scoreDocs]]''' (per batch): per-document mean interpolated
  *     log-probability of the DELTA against the STORED model —
  *     O(|delta| × probe), the model appears only through bucketed joins
  *     restricted to the delta's own grams.
  *
  * Probability: P(t|p) = 0.7·net(p,t)/net(p) (0 when the bigram or its
  * context is unseen) + 0.3·(net(t)+1)/(total+V+1) — MLE interpolation
  * with an add-one unigram floor over vocab+1 so out-of-vocabulary tokens
  * score finitely (the OOV bucket), deterministic and SQL-replayable.
  *
  * The (total, V) normalizer scalars are MAINTAINED MODEL STATE, not a
  * per-batch recount: a tiny addend table (`graft_lm_stats_<tag>`) carries
  * (Δtotal, ΔV) rows that [[buildStore]] seeds and every
  * [[appendToStore]]/[[deleteFromStore]] extends with a delta-bounded
  * probe (ΔV = tokens entering/leaving positive net — a semi-join against
  * the delta's own tokens, never a vocab scan); scoring reads their sum.
  * The r13 verdict's #6: the scorer used to pay an O(vocab) store
  * aggregation per scoring batch for two scalars that only change on
  * ingest — the count-store mechanic applied to the normalizer.
  */
object NgramLm {

  /** Names of the three persisted tables of one model: unigram counts,
    * bigram counts, and the (total, V) normalizer addends. */
  final case class LmTables(uni: String, bi: String, stats: String)

  private def fp = "lm|ws-split|bigram"
  private def uniStore(t: LmTables) = CountStore(t.uni, Seq("t"))
  private def biStore(t: LmTables) = CountStore(t.bi, Seq("p", "t"))

  private def uniCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("__c"))

  /** (carry…, p, t): one row per adjacent token pair of every doc with
    * ≥ 2 tokens — the one bigram stream the counts and scorers share. */
  private def bigrams(docs: DataFrame, textCol: String,
      carry: String*): DataFrame =
    docs.select(carry.map(col) :+ tokens(col(textCol)).as("__ts"): _*)
      .filter(size(col("__ts")) >= 2)
      .select(carry.map(col) :+
        explode(transform(sequence(lit(2), size(col("__ts"))),
          i => struct(element_at(col("__ts"), i - 1).as("p"),
            element_at(col("__ts"), i).as("t")))).as("__bg"): _*)
      .select(carry.map(col) :+ col("__bg.p").as("p") :+ col("__bg.t").as("t"): _*)

  private def biCounts(docs: DataFrame, textCol: String): DataFrame =
    bigrams(docs, textCol).groupBy("p", "t").agg(count(lit(1)).as("__c"))

  /** Σ of the normalizer addends: one row (__tot, __nv, __nb) off the
    * maintained stats table — O(#maintenance ops) rows, not O(vocab). */
  private def normalizer(spark: SparkSession, tables: LmTables): DataFrame =
    spark.table(tables.stats)
      .agg(coalesce(sum(col("__tot")), lit(0L)).cast("long").as("__tot"),
        coalesce(sum(col("__nv")), lit(0L)).cast("long").as("__nv"),
        coalesce(sum(col("__nb")), lit(0L)).cast("long").as("__nb"))

  /** (idCol, n_bigrams, avg_logprob) from per-bigram probabilities `p`:
    * the exact-integer micro-pinned mean of round(ln(p), 8). */
  private def meanLogprob(scored: DataFrame, idCol: String,
      p: Column): DataFrame = {
    import graft.functions.ExactRound
    scored.select(col(idCol), round(log(p), 8).as("__lp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        ExactRound.ratioRound6Int(
          sum(ExactRound.eScaled(col("__lp"), 8).cast("decimal(38,0)")), 8,
          count(lit(1))).as("avg_logprob"))
  }

  /** Train + persist the model over `corpus` as two bucketed count tables
    * plus the normalizer-addend table under `basePath`, tagged `tag`:
    *  - `graft_lm_uni_<tag>`(t, __c)        bucketed by t
    *  - `graft_lm_bi_<tag>`(p, t, __c)      bucketed by (p, t)
    *  - `graft_lm_stats_<tag>`(__tot, __nv, __nb) addend rows;
    *    Σ = (total tokens, V = distinct unigrams, N1+ = distinct bigrams —
    *    the Kneser-Ney continuation normalizer) */
  def buildStore(corpus: DataFrame, textCol: String, tag: String,
      basePath: String, numBuckets: Int): LmTables = {
    val t = LmTables(s"graft_lm_uni_$tag", s"graft_lm_bi_$tag",
      s"graft_lm_stats_$tag")
    val uc = uniCounts(corpus, textCol).localCheckpoint() // counts + seed
    val bc = biCounts(corpus, textCol).localCheckpoint()
    uniStore(t).build(uc, fp, s"$basePath/uni", numBuckets)
    biStore(t).build(bc, fp, s"$basePath/bi", numBuckets)
    val s = corpus.sparkSession
    s.sql(s"DROP TABLE IF EXISTS ${t.stats}")
    uc.agg(coalesce(sum(col("__c")), lit(0L)).cast("long").as("__tot"),
        count(lit(1)).as("__nv"))
      .crossJoin(bc.agg(count(lit(1)).as("__nb")))
      .write.mode("overwrite").format("parquet")
      .option("path", s"$basePath/stats").saveAsTable(t.stats)
    t
  }

  /** One (Δtotal, ΔV, ΔN1+) addend row for a batch about to be APPLIED to
    * the store with `sign`: Δtotal = sign × the batch's token mass; ΔV /
    * ΔN1+ = sign × how many of the batch's DISTINCT tokens / bigrams cross
    * zero net (enter the model on append, leave it on delete). The store
    * appears only through [[CountStore.net]] probes restricted to the
    * batch's own grams — delta-bounded, never a vocab scan — and the row
    * is MATERIALIZED before the caller mutates the count tables (the
    * probes must see pre-apply nets). */
  private def statsDelta(spark: SparkSession, tables: LmTables,
      batchUni: DataFrame, batchBi: DataFrame, sign: Long): DataFrame = {
    def crossing(store: CountStore, batch: DataFrame): DataFrame = {
      val net = store.net(spark, batch.select(store.keys.map(col): _*), fp)
        .withColumnRenamed("__c", "__net")
      if (sign < 0)
        // grams whose net hits zero when this batch's counts come out
        batch.join(net, store.keys).filter(col("__net") === col("__c"))
      else
        // grams absent (or net-zero after an earlier delete) before this
        // batch lands
        batch.join(net, store.keys, "left_anti")
    }
    batchUni.agg(
        (lit(sign) * coalesce(sum(col("__c")), lit(0L))).cast("long").as("__tot"))
      .crossJoin(crossing(uniStore(tables), batchUni)
        .agg((lit(sign) * count(lit(1))).as("__nv")))
      .crossJoin(crossing(biStore(tables), batchBi)
        .agg((lit(sign) * count(lit(1))).as("__nb")))
      .localCheckpoint()
  }

  /** Apply a batch's counts with `sign` (+1 ingest, −1 takedown) to both
    * count tables, and its normalizer addend to the stats table. The
    * fingerprint gate refuses a tokenizer/model-shape drift. CRASH WINDOW
    * (single maintenance writer, like every append face here): a failure
    * between the count appends and the stats append leaves the normalizer
    * excluding a batch the counts include — scoring would silently use
    * stale (total, V, N1+) until repaired; [[recountStats]] is the
    * explicit repair (and the recovery step a deployment runs after any
    * crashed maintenance op, the [[Bucketed.compactWith]]-contract
    * analog). */
  private def applySigned(tables: LmTables, docs: DataFrame, textCol: String,
      numBuckets: Int, sign: Long): Unit = {
    val s = docs.sparkSession
    val du = uniCounts(docs, textCol).localCheckpoint()
    val db = biCounts(docs, textCol).localCheckpoint()
    val sd = statsDelta(s, tables, du, db, sign) // pre-apply probe
    uniStore(tables).add(du, sign, fp, numBuckets)
    biStore(tables).add(db, sign, fp, numBuckets)
    sd.write.mode("append").format("parquet").saveAsTable(tables.stats)
    s.catalog.refreshTable(tables.stats)
  }

  /** O(delta) ingest: the batch's counts and normalizer addend appended
    * ([[applySigned]]). */
  def appendToStore(tables: LmTables, docs: DataFrame, textCol: String,
      numBuckets: Int): Unit =
    applySigned(tables, docs, textCol, numBuckets, 1L)

  /** Takedown by exact decrement: the deleted docs' counts appended
    * negated, and the normalizer addend records the leaving mass and
    * vocabulary ([[applySigned]]; its crash-window note applies). */
  def deleteFromStore(tables: LmTables, docs: DataFrame, textCol: String,
      numBuckets: Int): Unit =
    applySigned(tables, docs, textCol, numBuckets, -1L)

  /** Rebuild the normalizer from the COUNT TABLES — the repair verb for a
    * crash between a maintenance op's count appends and its stats append
    * (the addend table would otherwise stay stale forever; the live
    * scorers have no way to notice two tables disagreeing). One
    * O(model) job, run on recovery, never per batch. */
  def recountStats(spark: SparkSession, tables: LmTables): Unit = {
    val uni = spark.table(tables.uni).groupBy(col("t"))
      .agg(sum(col("__c")).cast("long").as("__n")).filter(col("__n") > 0L)
    val nb = spark.table(tables.bi).groupBy(col("p"), col("t"))
      .agg(sum(col("__c")).cast("long").as("__n")).filter(col("__n") > 0L)
      .agg(count(lit(1)).as("__nb"))
    val one = uni
      .agg(coalesce(sum(col("__n")), lit(0L)).cast("long").as("__tot"),
        count(lit(1)).as("__nv"))
      .crossJoin(nb)
      .localCheckpoint() // off the table before the overwrite reads it
    one.write.mode("overwrite").insertInto(tables.stats)
    spark.catalog.refreshTable(tables.stats)
  }

  /** Merge split/negated count rows and purge net-zero grams — one
    * [[CountStore.compact]] per table — and collapse the normalizer
    * addends to a single row. */
  def compactStore(spark: SparkSession, tables: LmTables,
      numBuckets: Int): Unit = {
    uniStore(tables).compact(spark, numBuckets)
    biStore(tables).compact(spark, numBuckets)
    val one = normalizer(spark, tables)
      .localCheckpoint() // off the table before the overwrite reads it
    // insertInto keeps the table's identity (external location included);
    // overwrite truncates the old addend rows
    one.write.mode("overwrite").insertInto(tables.stats)
    spark.catalog.refreshTable(tables.stats)
  }

  /** Streaming face of the scoring path — perplexity-filter the crawl as
    * it arrives: each micro-batch of documents scores against the stored
    * model through the identical batch transform (foreachBatch is the
    * standard bridge for stream stages needing batch-only operators —
    * bucketed-table joins here), and `sink` receives that batch's
    * (idCol, n_bigrams, avg_logprob) rows. The model is READ-ONLY in this
    * face — CCNet's deployment shape: the reference LM is frozen, crawl
    * batches are scored by it, not learned into it (growing the model is
    * [[appendToStore]], a separate maintenance decision). Batches are
    * therefore independent and per-batch output equals the batch operator
    * on the same rows (NgramLmSpec parity pin). */
  def scoreStream(spark: SparkSession, tables: LmTables,
      deltaStream: DataFrame, idCol: String, textCol: String)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.MicroBatch.start(deltaStream) { (batch, batchId) =>
      sink(scoreDocs(spark, tables, batch, idCol, textCol), batchId)
    }

  /** Per-document mean interpolated log-probability of `delta` against the
    * STORED model: (idCol, n_bigrams, avg_logprob) for every delta doc
    * with ≥ 2 tokens. The store appears only through net-count probes
    * restricted to the delta's own grams ([[CountStore.net]]); the (total, V)
    * normalizer comes off the maintained stats table — a few addend
    * rows, no vocab-wide aggregation anywhere in the scoring plan
    * (PlanSpec-pinned). `avg_logprob` is the
    * exact-integer micro-pinned mean of round(ln(P), 8) — the
    * `text_bigram_logprob` convention, so the stored face shares its
    * oracle shape. */
  def scoreDocs(spark: SparkSession, tables: LmTables, delta: DataFrame,
      idCol: String, textCol: String): DataFrame =
    scoredAgainstStore(spark, tables, delta, idCol, textCol) {
      (c2, cp, cn, tot, v) =>
        when(c2.isNotNull && cp.isNotNull,
          lit(0.7d) * c2.cast("double") / cp).otherwise(lit(0.0d)) +
          lit(0.3d) * (coalesce(cn, lit(0L)).cast("double") + lit(1.0d)) /
            (tot.cast("double") + v + lit(1.0d))
    }

  /** Stupid-backoff scoring (Brants et al. 2007, "Large Language Models in
    * Machine Translation" §4) against the SAME stored model — the scheme
    * the web-scale LMs that paper describes actually ran: no discounting
    * fit, S(t|p) = net(p,t)/net(p) when the bigram is attested, else
    * α·S(t) with α = 0.4 and the unigram floored add-one like the
    * interpolated scorer (so OOV stays finite and the two scorers share
    * the exact same probe plan — only the per-position expression
    * differs). Same output contract as [[scoreDocs]]. */
  def scoreDocsBackoff(spark: SparkSession, tables: LmTables, delta: DataFrame,
      idCol: String, textCol: String): DataFrame =
    scoredAgainstStore(spark, tables, delta, idCol, textCol) {
      (c2, cp, cn, tot, v) =>
        when(c2.isNotNull && cp.isNotNull, c2.cast("double") / cp)
          .otherwise(lit(0.4d) *
            (coalesce(cn, lit(0L)).cast("double") + lit(1.0d)) /
            (tot.cast("double") + v + lit(1.0d)))
    }

  /** Interpolated Kneser-Ney scoring (Kneser & Ney 1995; Chen & Goodman
    * 1999 §3 — the discounting CCNet's KenLM actually runs) against the
    * SAME stored model, batch-fit from the count tables with the fixed
    * absolute discount D = 0.75:
    *
    *   P(t|p) = (max(net(p,t)−D, 0) + D·N1+(p·)·Pcont(t)) / c(p)  — p attested
    *          = Pcont(t)                                          — otherwise
    *   Pcont(t) = (N1+(·t) + 1) / (N1+(··) + V + 1)
    *
    * c(p) = Σ_t net(p,t) and the continuation counts N1+(p·) / N1+(·t)
    * are net-count aggregates over the BIGRAM store restricted to the
    * delta's own contexts / tokens (two delta-bounded bucketed probes —
    * bounded by the probed contexts' fanout, the inherent KN cost, never
    * the corpus); the scalars N1+(··) and V come off the maintained stats
    * table. The continuation unigram carries the same add-one floor as
    * the other scorers, so OOV stays finite. Same output contract as
    * [[scoreDocs]]; the oracle refits KN from scratch and must match
    * hash-for-hash. */
  def scoreDocsKneserNey(spark: SparkSession, tables: LmTables,
      delta: DataFrame, idCol: String, textCol: String): DataFrame = {
    val pos = bigrams(delta, textCol, idCol).localCheckpoint()
    // one context-restricted net probe feeds BOTH the pair lookup and the
    // per-context aggregates (c(p), N1+(p·))
    val ctxNets = biStore(tables).net(spark, pos.select("p"), fp)
      .localCheckpoint()
    val pairNet = ctxNets
      .join(pos.select("p", "t").distinct(), Seq("p", "t"), "left_semi")
      .select(col("p"), col("t"), col("__c").as("__c2"))
    val ctx = ctxNets.groupBy(col("p"))
      .agg(sum(col("__c")).cast("long").as("__c1"), count(lit(1)).as("__n1p"))
    val cont = biStore(tables).net(spark, pos.select("t"), fp)
      .groupBy(col("t")).agg(count(lit(1)).as("__n1t"))
    val d = lit(0.75d)
    def pcont = (coalesce(col("__n1t"), lit(0L)).cast("double") + lit(1.0d)) /
      (col("__nb").cast("double") + col("__nv") + lit(1.0d))
    meanLogprob(pos.join(pairNet, Seq("p", "t"), "left")
      .join(ctx, Seq("p"), "left")
      .join(cont, Seq("t"), "left")
      .crossJoin(broadcast(normalizer(spark, tables))), idCol,
      when(col("__c1").isNotNull,
        (greatest(coalesce(col("__c2"), lit(0L)).cast("double") - d,
          lit(0.0d)) + d * col("__n1p") * pcont) / col("__c1"))
        .otherwise(pcont))
  }

  private def scoredAgainstStore(spark: SparkSession, tables: LmTables,
      delta: DataFrame, idCol: String, textCol: String)(
      prob: (Column, Column, Column, Column, Column) => Column): DataFrame = {
    val pos = bigrams(delta, textCol, idCol)
      .localCheckpoint() // two probes + the final join read it
    val deltaToks = pos.select(col("p").as("t")).unionAll(pos.select(col("t")))
    // net counts, delta-restricted: the semi keeps the bucketed scan's
    // partitioning, the aggregation is bounded by delta-matched grams
    val uniNet = uniStore(tables).net(spark, deltaToks, fp)
    val biNet = biStore(tables).net(spark, pos.select("p", "t"), fp)
      .withColumnRenamed("__c", "__c2")
    meanLogprob(pos.join(biNet, Seq("p", "t"), "left")
      .join(uniNet.select(col("t").as("p"), col("__c").as("__cp")),
        Seq("p"), "left")
      .join(uniNet.select(col("t"), col("__c").as("__cn")), Seq("t"), "left")
      .crossJoin(broadcast(normalizer(spark, tables))), idCol,
      prob(col("__c2"), col("__cp"), col("__cn"), col("__tot"), col("__nv")))
  }
}
