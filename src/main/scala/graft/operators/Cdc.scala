package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Content-defined chunking (CDC) — the storage-dedup decomposition (LBFS,
  * Muthitacharoen et al. SOSP'01; the rolling-hash boundary idea behind
  * every dedup filesystem and chunk-store). Documents are split at
  * content-determined positions (a token whose portable hash ≡ 0 mod the
  * modulus ends a chunk), so an insertion or deletion only reshapes the
  * chunks it touches — unlike fixed-width blocks, where one shifted token
  * re-writes every downstream block. Duplicate chunks across the corpus
  * then collapse to one stored copy.
  *
  * Scale shape: one explode + per-document windows (bounded by document
  * length, never corpus size — the SpanDedup argument) + keyed aggregation
  * on (doc, chunk). Chunk identity is the same portable md5 the dedup
  * family keys on, so the corpus-level census is a plain hash groupBy —
  * no pairwise comparison anywhere.
  */
object Cdc {

  /** Expected chunk length in tokens (boundary probability 1/modulus). */
  val DefaultModulus = 16

  /** One row per (document, chunk): ordinal chunk index, token count, and
    * the chunk's content hash. Boundary rule: a token whose
    * [[TextFunctions.tokenHash]] ≡ 0 (mod `modulus`) is the LAST token of
    * its chunk. */
  def chunks(docs: DataFrame, idCol: String, textCol: String,
      modulus: Int = DefaultModulus): DataFrame = {
    val toks = docs.select(col(idCol),
      posexplode(TextFunctions.tokens(col(textCol))).as(Seq("__pos", "__tok")))
    val isBreak = when(
      TextFunctions.tokenHash(col("__tok")) % lit(modulus.toLong) === 0L, 1L)
      .otherwise(0L)
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks
      .withColumn("__brk", isBreak)
      // chunk of a token = breaks strictly before it
      .withColumn("chunk_idx", (sum(col("__brk")).over(w) - col("__brk")))
      .groupBy(col(idCol), col("chunk_idx"))
      .agg(count(lit(1)).as("n_tokens"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("__pos"), col("__tok")))),
            s => s.getField("__tok")))).as("chunk_hash"))
  }

  /** Per-document chunk summary: chunk count and an order-sensitive digest
    * of the chunk-hash sequence (pins both the boundaries and the
    * contents). */
  def perDoc(chunked: DataFrame, idCol: String): DataFrame =
    chunked.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        md5(concat_ws("",
          transform(array_sort(collect_list(struct(col("chunk_idx"), col("chunk_hash")))),
            s => s.getField("chunk_hash")))).as("chunks_hash"))

  final case class StoreTable(chunks: String)

  /** Build + persist the corpus chunk census as ONE bucketed table
    * `graft_cdcstore_<tag>`(chunk_hash, __c, __nt), bucketed on
    * `chunk_hash` — the column every ingest probe joins on, so per-batch
    * joins reuse the stored HashPartitioning. Counts only (no positions):
    * the store answers "is this chunk already held, and how long is it" —
    * |store| = distinct chunks, far below the corpus. */
  def buildStore(corpus: DataFrame, idCol: String, textCol: String,
      modulus: Int, tag: String, basePath: String,
      numBuckets: Int): StoreTable = {
    val census = chunks(corpus, idCol, textCol, modulus)
      .groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("__c"), min(col("n_tokens")).as("__nt"))
    val t = StoreTable(s"graft_cdcstore_$tag")
    Bucketed.writeBucketed(census, t.chunks, s"$basePath/chunks",
      "chunk_hash", numBuckets)
    graft.Layouts.stampFingerprint(corpus.sparkSession, t.chunks,
      s"cdc|$modulus")
    t
  }

  /** O(delta) ingest: chunk ONLY the delta, count per hash, append into the
    * bucketed store — the base corpus is never re-read. The table then
    * holds SPLIT counts (one row per (hash, batch)), semantics-preserving
    * for every consumer: probes test existence, and the recount invariants
    * `count(DISTINCT chunk_hash)` / `sum(__c)` equal a from-scratch build
    * (the SpanDedup.appendToIndex argument, applied to chunk storage). */
  def appendToStore(table: StoreTable, delta: DataFrame, idCol: String,
      textCol: String, modulus: Int, numBuckets: Int): Unit = {
    graft.Layouts.checkFingerprint(delta.sparkSession, table.chunks,
      s"cdc|$modulus", "Cdc.appendToStore")
    Bucketed.appendBucketedKeys(
      chunks(delta, idCol, textCol, modulus)
        .groupBy(col("chunk_hash"))
        .agg(count(lit(1)).as("__c"), min(col("n_tokens")).as("__nt")),
      table.chunks, Seq("chunk_hash"), numBuckets)
  }

  /** Compact an appended chunk store back to one row per hash: re-aggregate
    * the split counts (min(__nt) is append-invariant — copies of one chunk
    * share a length) and rewrite through the same bucketed layout, carrying
    * the build fingerprint across (compaction changes layout, never
    * identity — the SpanDedup.compactIndex contract). Bounds the file and
    * row growth of a long append history; reads only the store, never the
    * corpus. Hashes whose net count fell to zero ([[deleteFromStore]]
    * decrements) are physically purged here. */
  def compactStore(spark: org.apache.spark.sql.SparkSession,
      table: StoreTable, numBuckets: Int): Unit =
    Bucketed.compactTable(spark, table.chunks, Seq("chunk_hash"), numBuckets)(
      _.groupBy(col("chunk_hash"))
        .agg(sum(col("__c")).cast("long").as("__c"),
          min(col("__nt")).as("__nt"))
        .filter(col("__c") > 0L))

  /** Delete documents from the chunk store by EXACT DECREMENT —
    * [[SpanDedup.deleteFromIndex]]'s CDC sibling (the store aggregates
    * counts, so a takedown's contribution is an addend, not a row to
    * tombstone): re-chunk ONLY the deleted docs and append their counts
    * NEGATED. `__nt` rides along non-negated (copies of one chunk share a
    * length, so the min stays append-invariant whether the row adds or
    * removes copies). Probes read net presence ([[probeStore]]), so a
    * chunk whose every copy was deleted stops counting as known
    * immediately; [[compactStore]] purges net-zero rows. O(|deleted
    * docs|), the store never rebuilt; delete ∘ append ≡ id
    * (spec-pinned). Decrement exactly once per ingested doc — the
    * [[SpanDedup.deleteFromIndex]] contract. */
  def deleteFromStore(table: StoreTable, docs: DataFrame, idCol: String,
      textCol: String, modulus: Int, numBuckets: Int): Unit = {
    graft.Layouts.checkFingerprint(docs.sparkSession, table.chunks,
      s"cdc|$modulus", "Cdc.deleteFromStore")
    Bucketed.appendBucketedKeys(
      chunks(docs, idCol, textCol, modulus)
        .groupBy(col("chunk_hash"))
        .agg((-count(lit(1))).as("__c"), min(col("n_tokens")).as("__nt")),
      table.chunks, Seq("chunk_hash"), numBuckets)
  }

  /** Ingest-batch dedup hit rate: per delta document, how many of its
    * chunks (and tokens) the store already holds — the number that decides
    * whether a crawl batch is worth storing. Chunking is O(|delta|); the
    * store appears only through a bucketed left-semi probe. */
  def probeStore(spark: org.apache.spark.sql.SparkSession, table: StoreTable,
      delta: DataFrame, idCol: String, textCol: String,
      modulus: Int): DataFrame = {
    graft.Layouts.checkFingerprint(spark, table.chunks,
      s"cdc|$modulus", "Cdc.probeStore")
    val dch = chunks(delta, idCol, textCol, modulus).localCheckpoint()
    // Presence = NET count > 0 (the SpanDedup.incrementalSpans argument):
    // split positive counts preserve existence, and deleteFromStore's
    // negative decrements must make a fully-deleted chunk stop matching.
    // Semi-join the store to the DELTA's hashes FIRST, then net only the
    // matched groups (r12 advice): without the restriction every probe
    // batch paid a full-store aggregation — per-batch cost growing with
    // total distinct hashes instead of delta-matched hashes. The semi-join
    // preserves the store scan's bucketed HashPartitioning (left side of a
    // broadcast semi), so the aggregation still runs exchange-free on the
    // store side.
    val present = spark.table(table.chunks)
      .join(dch.select("chunk_hash").distinct(), Seq("chunk_hash"), "left_semi")
      .groupBy(col("chunk_hash")).agg(sum(col("__c")).as("__net"))
      .filter(col("__net") > 0L).select("chunk_hash")
    val known = dch.join(present, Seq("chunk_hash"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__nk"), sum(col("n_tokens")).as("__kt"))
    dch.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_tokens")).cast("long").as("n_tokens"))
      .join(known, Seq(idCol), "left")
      .select(col(idCol), col("n_chunks"), col("n_tokens"),
        coalesce(col("__nk"), lit(0L)).as("n_known_chunks"),
        coalesce(col("__kt"), lit(0L)).cast("long").as("known_tokens"))
  }

  /** Streaming face of the ingest path — the deployed daily-crawl shape:
    * each micro-batch of arriving documents is chunked, its hit-rate
    * probed against the persisted store, the batch's NEW chunk counts
    * appended, and the per-doc stats handed to `sink`. foreachBatch is the
    * standard bridge for stream stages needing batch-only operators
    * (bucketed-table joins, bucketed appends). Per-batch work is
    * O(|batch|); the store is never rebuilt. Probe-then-append per batch
    * means an intra-batch duplicate still counts as new (matching the
    * batch probe), while later batches see every earlier batch's chunks. */
  def ingestStream(spark: org.apache.spark.sql.SparkSession, table: StoreTable,
      deltaStream: DataFrame, idCol: String, textCol: String, modulus: Int,
      numBuckets: Int)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    deltaStream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(probeStore(spark, table, batch, idCol, textCol, modulus)
          .localCheckpoint(), batchId)
        appendToStore(table, batch, idCol, textCol, modulus, numBuckets)
        // the append refreshed the MICRO-BATCH session's relation cache
        // (batch.sparkSession is a streaming clone); the next batch's probe
        // reads through THIS session — refresh it too or it sees the
        // pre-append file listing
        spark.catalog.refreshTable(table.chunks)
      }
      .outputMode("append")
      .start()

  /** Corpus-level storage census: total vs distinct chunks, tokens that
    * collapse as duplicate chunk copies, and the exact dedup ratio in
    * micro-units. One hash groupBy over the chunk table. */
  def stats(chunked: DataFrame): DataFrame = {
    val perHash = chunked.groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("__cnt"), min(col("n_tokens")).as("__nt"))
    perHash.agg(
        sum(col("__cnt")).cast("long").as("total_chunks"),
        count(lit(1)).as("distinct_chunks"),
        sum((col("__cnt") - 1L) * col("__nt")).cast("long").as("dup_tokens"),
        sum(col("__cnt") * col("__nt")).cast("long").as("total_tokens"))
      .withColumn("dedup_ratio_e6",
        graft.functions.ExactRound.roundDiv(
          col("dup_tokens") * lit(1000000L), col("total_tokens")))
  }
}
