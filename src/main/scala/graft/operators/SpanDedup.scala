package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Exact duplicate-SPAN removal (ExactSubstr — Lee et al., ACL 2022,
  * arXiv:2107.06499, "Deduplicating Training Data Makes Language Models
  * Better"): instead of deciding keep/drop per document, find every token
  * span of length ≥ k that occurs more than once ANYWHERE in the corpus
  * (across documents or repeated within one) and cut the spans themselves.
  * Whole-document dedup ([[Dedup]]) misses boilerplate headers, license
  * blocks, and templated paragraphs embedded in otherwise-unique documents
  * — span dedup is the published fix, run by most large pretraining
  * pipelines after near-dup removal.
  *
  * The reference engine has no span-level operator; this is the
  * training-data extension (cited to the public paper, not the reference).
  *
  * Method: hash every k-token window (the same 31-base rolling hash over
  * md5 token hashes as [[Dedup.shingleHashes]], but WITH positions and
  * WITHOUT per-doc distinct); a window hash occurring ≥ 2 times marks all
  * its occurrences; per document, overlapping/adjacent marked windows merge
  * into maximal spans (start positions within k of each other chain into
  * one island).
  *
  * Scale shape: the suffix-array the paper builds is replaced by two keyed
  * shuffles — occurrence counting keyed on the window hash, and the
  * mark-join keyed on the same hash — followed by a per-document window
  * (partitioned by doc id, so the sort is bounded by document length, never
  * corpus-wide). Nothing is quadratic in corpus size: every stage is
  * O(total tokens) rows through hash-keyed exchanges, exactly how this
  * shape survives 100 TB. The duplicated-hash set is emitted as a
  * semi-join side small enough to broadcast when duplication is sparse.
  *
  * Determinism: counts, positions, and span bounds are exact integers;
  * cleaned text is the kept token stream (lowercased, single-spaced —
  * the operator works on the token stream, as the paper does) — every
  * output is hash-stable with no float anywhere. */
object SpanDedup {

  /** Every k-gram window with its 1-based start position: (idCol, __pos,
    * __gh). Non-distinct — repeated windows inside one document are the
    * point. Same rolling hash as [[Dedup.shingleHashes]] so the DuckDB
    * mirror shares [[graft.queries.DocSql]] constants. */
  def gramPositions(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    gramPositionsOf(Dedup.tokenHashes(df, idCol, textCol), idCol, k)

  /** [[gramPositions]] over a delta WITHOUT registering the token-hash
    * frame in [[graft.Caches]]: each ingest micro-batch is a distinct plan,
    * and a registry entry per batch would grow driver state and pinned
    * executor storage without bound over a long-running stream (see
    * [[Dedup.shingleHashesUncached]]). */
  def gramPositionsUncached(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    gramPositionsOf(Dedup.tokenHashesUncached(df, idCol, textCol), idCol, k)

  private def gramPositionsOf(withHt: DataFrame, idCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"SpanDedup: window width k=$k must be >= 2")
    val ht = col("__ht")
    val entries = when(size(ht) >= k,
      transform(sequence(lit(1), size(ht) - (k - 1)),
        i => struct(i.cast("long").as("p"), Dedup.gramHashAt(ht, i, k).as("g"))))
      .otherwise(array().cast("array<struct<p:long,g:long>>"))
    withHt.select(col(idCol), explode(entries).as("__e"))
      .select(col(idCol), col("__e.p").as("__pos"), col("__e.g").as("__gh"))
  }

  /** (__gh, __c): occurrences per window hash of a positional stream. */
  private def windowCounts(pos: DataFrame): DataFrame =
    pos.groupBy(col("__gh")).agg(count(lit(1)).as("__c"))

  /** Maximal duplicated spans per document: (idCol, span_start, span_end),
    * token positions 1-based inclusive. A window is duplicated when its
    * hash occurs ≥ `minCount` times corpus-wide; marked start positions
    * within k of each other merge (their k-token windows overlap or touch),
    * so each output row is one maximal region of duplicated text. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String, k: Int,
      minCount: Long = 2L): DataFrame = {
    val pos = gramPositions(df, idCol, textCol, k)
    val dup = windowCounts(pos).filter(col("__c") >= minCount).select("__gh")
    mergeIslands(pos.join(dup, Seq("__gh")).select(col(idCol), col("__pos")),
      idCol, k)
  }

  /** Islands-and-gaps merge of marked start positions into maximal spans.
    * The running sum of break flags is a per-doc window — sorts are
    * bounded by doc length, never corpus-wide. */
  private def mergeIslands(dpos: DataFrame, idCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
    dpos
      .withColumn("__prev", lag(col("__pos"), 1).over(w))
      .withColumn("__brk",
        (col("__prev").isNull || col("__pos") - col("__prev") > k).cast("int"))
      .withColumn("__island", sum(col("__brk")).over(w))
      .groupBy(col(idCol), col("__island"))
      .agg(min(col("__pos")).as("span_start"),
        (max(col("__pos")) + lit(k - 1).cast("long")).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"))
  }

  // ---- Persisted index + O(delta) ingest ----------------------------------

  /** Name of the one persisted table of a span index. */
  final case class IndexTable(counts: String)

  /** The index as a [[CountStore]] (split counts, negated delete, net
    * presence, compact as the purge) keyed on `__gh`; window width is its
    * identity — hashes at another k would poison the counts silently. */
  private def store(t: IndexTable) = CountStore(t.counts, Seq("__gh"))
  private def fp(k: Int) = s"span|$k"

  /** Build + persist the corpus window-hash counts as ONE bucketed table
    * `graft_spanidx_<tag>`(__gh, __c), bucketed on `__gh` — the column
    * every per-batch probe joins on, so ingest joins reuse the stored
    * HashPartitioning and never reshuffle the corpus side. The index is
    * counts only (no positions): marking a delta window needs just
    * "does the corpus contain this hash", |index| = distinct window
    * hashes, far below the positional stream it summarizes. */
  def buildIndex(corpus: DataFrame, idCol: String, textCol: String, k: Int,
      tag: String, basePath: String, numBuckets: Int): IndexTable = {
    val t = IndexTable(s"graft_spanidx_$tag")
    store(t).build(windowCounts(gramPositions(corpus, idCol, textCol, k)),
      fp(k), s"$basePath/counts", numBuckets)
    t
  }

  /** O(delta) ingest (the daily-crawl path): hash ONLY the delta's windows
    * and add their counts — the base corpus is never re-read; the recount
    * invariants are gated by `dedup_span_index_append`. */
  def appendToIndex(table: IndexTable, delta: DataFrame, idCol: String,
      textCol: String, k: Int, numBuckets: Int): Unit =
    store(table).add(
      windowCounts(gramPositionsUncached(delta, idCol, textCol, k)), 1L,
      fp(k), numBuckets)

  /** Compact an appended count index back to one row per hash with the
    * net-zero hashes purged (`dedup_span_index_compact` pins the recount
    * invariants plus the one-row-per-hash property). */
  def compactIndex(spark: SparkSession, table: IndexTable,
      numBuckets: Int): Unit =
    store(table).compact(spark, numBuckets)

  /** Delete documents from the count index by exact decrement: re-hash
    * ONLY the deleted docs' windows and add their counts negated. The
    * caller passes the documents being taken down (a takedown request
    * carries them by definition). */
  def deleteFromIndex(table: IndexTable, docs: DataFrame, idCol: String,
      textCol: String, k: Int, numBuckets: Int): Unit =
    store(table).add(
      windowCounts(gramPositionsUncached(docs, idCol, textCol, k)), -1L,
      fp(k), numBuckets)

  /** Duplicated spans of DELTA documents against corpus ∪ delta, with the
    * corpus appearing ONLY through index probes: a delta window is
    * duplicated iff its hash is stored (corpus occurrence ≥ 1) or occurs
    * ≥ 2 times within the delta itself — exactly the set the full batch
    * run marks in these documents (corpus ≥ 1 ∨ delta ≥ 2 ⟺ total ≥ 2
    * for a position that itself counts once), so the one-shot oracle
    * restricted to the delta pins this path. Per-batch work is
    * O(|delta windows|): one net-presence probe of the bucketed index +
    * one keyed self-count. */
  def incrementalSpans(spark: SparkSession, table: IndexTable,
      delta: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    // Uncached positional stream: the checkpoint below materializes it once
    // for the two probes, and its blocks free with the batch — unlike a
    // Caches entry, which a stream would accumulate per micro-batch.
    val pos = gramPositionsUncached(delta, idCol, textCol, k).localCheckpoint()
    val present = store(table).net(spark, pos.select("__gh"), fp(k))
    val inCorpus = pos.join(present, Seq("__gh"), "left_semi")
    val inDelta = pos.join(
      windowCounts(pos).filter(col("__c") >= 2L).select("__gh"), Seq("__gh"))
    mergeIslands(
      inCorpus.unionAll(inDelta).select(col(idCol), col("__pos")).distinct(),
      idCol, k)
  }

  /** Streaming face of [[incrementalSpanStats]] — span-dedup the crawl as
    * it arrives: each micro-batch probes the persisted count index through
    * the identical batch transform (the foreachBatch bridge every
    * index-probing stream face here uses — bucketed-table joins are
    * batch-only). Batches are independent (marks depend on the stored
    * corpus and the batch itself), so per-batch output equals the batch
    * operator on the same rows (asserted in SpanDedupSpec). */
  def incrementalSpanStream(spark: SparkSession, table: IndexTable,
      deltaStream: DataFrame, idCol: String, textCol: String, k: Int)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.MicroBatch.start(deltaStream) { (batch, batchId) =>
      sink(incrementalSpanStats(spark, table, batch, idCol, textCol, k), batchId)
    }

  /** Per-delta-document span accounting over [[incrementalSpans]] — the
    * ingest-batch report: (idCol, n_tokens, n_spans, dup_tokens). */
  def incrementalSpanStats(spark: SparkSession, table: IndexTable,
      delta: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    spanStatsFrom(incrementalSpans(spark, table, delta, idCol, textCol, k),
      delta, idCol, textCol)

  /** Per-document span accounting — the report a pipeline reads to decide
    * how aggressive the cut is: (idCol, n_tokens, n_spans, dup_tokens),
    * all exact longs, one row per input document. */
  def spanStats(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    spanStatsFrom(duplicateSpans(df, idCol, textCol, k), df, idCol, textCol)

  /** [[spanStats]] over a precomputed [[duplicateSpans]] frame — callers
    * composing stats AND the cut (the selection pipeline) cache the span
    * frame once instead of re-running the whole mark pipeline twice. */
  def spanStatsFrom(spans: DataFrame, df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val st = spans
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_end") - col("span_start") + 1).as("dup_tokens"))
    df.select(col(idCol), TextFunctions.tokenCount(col(textCol)).as("n_tokens"))
      .join(st, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
  }

  /** The cut itself: every duplicated span removed, remaining tokens
    * rejoined in order — (idCol, clean_text), one row per input document
    * (untouched documents keep their full token stream). Covered positions
    * are enumerated from the merged spans (bounded by total duplicated
    * tokens) and anti-joined on (id, position) — an equi-join, never a
    * range probe. */
  def removeSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    removeSpansFrom(duplicateSpans(df, idCol, textCol, k), df, idCol, textCol)

  /** [[removeSpans]] over a precomputed [[duplicateSpans]] frame (see
    * [[spanStatsFrom]]). */
  def removeSpansFrom(spans: DataFrame, df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val covered = spans
      .select(col(idCol),
        explode(sequence(col("span_start"), col("span_end"))).as("__pos"))
    val toks = df
      .select(col(idCol),
        posexplode(TextFunctions.tokens(col(textCol))).as(Seq("__p0", "__tok")))
      .select(col(idCol), (col("__p0") + 1).cast("long").as("__pos"), col("__tok"))
    val cleaned = toks.join(covered, Seq(idCol, "__pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("__pos"), col("__tok")))).as("__a"))
      .select(col(idCol),
        concat_ws(" ", transform(col("__a"), e => e.getField("__tok"))).as("clean_text"))
    df.select(col(idCol)).join(cleaned, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }
}
