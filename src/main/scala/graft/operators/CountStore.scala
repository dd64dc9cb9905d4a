package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The signed-count store: ONE format for every stored layout whose rows
  * are addends — [[SpanDedup]]'s window counts, [[Cdc]]'s chunk store and
  * [[NgramLm]]'s unigram and bigram tables. A store is a bucketed
  * `(keys…, __c)` table (bucketed on `keys`, so probes reuse the stored
  * HashPartitioning) stamped with the fingerprint of the counting
  * function that fills it; the operator keeps only that counting
  * function. The contract, stated once:
  *
  *  - '''Split counts.''' [[add]] appends one row per (key, batch), so the
  *    table holds split counts: the net count of a key is `sum(__c)` over
  *    its rows. The recount invariants `count(DISTINCT keys)` and
  *    `sum(__c)` equal a from-scratch [[build]] over the union.
  *  - '''Negated delete.''' A takedown appends the deleted docs' counts
  *    with `sign = -1` — an exact decrement, since a doc's contribution is
  *    an addend, not a row a tombstone could anti-join. O(|deleted docs|),
  *    the store never rebuilt, and `delete ∘ append ≡ id`. Decrement
  *    exactly once per ingested doc: decrementing a doc never ingested
  *    leaves net-negative keys (read as absent, dropped by [[compact]]),
  *    so a repeated delete is NOT idempotent the way tombstones are.
  *  - '''Net presence.''' A key is present iff its net count is > 0
  *    ([[net]]): splitting a count into positive parts preserves
  *    existence, and a key whose every occurrence was deleted stops
  *    matching at once.
  *  - '''Compact is the purge.''' [[compact]] re-aggregates to one row per
  *    key and drops keys whose net count is ≤ 0 — nothing a probe sees
  *    changes, and file and row growth of a long append history is reset.
  *
  * [[build]] stamps `fp` and every [[add]] and [[net]] checks it, so a
  * batch counted or probed under other parameters (another window width,
  * modulus or tokenizer) fails loudly instead of silently mixing two count
  * spaces. [[compact]] takes no `fp`: it changes the layout, never what
  * the counts mean, and the stamp lives in the sidecar it never touches. */
final case class CountStore(table: String, keys: Seq[String]) {

  private def checked(spark: SparkSession, fp: String): Unit =
    graft.Layouts.checkFingerprint(spark, table, fp, s"CountStore($table)")

  /** Persist `counts` (keys…, __c) as the store at `path`, replacing any
    * previous build, and stamp `fp`. */
  def build(counts: DataFrame, fp: String, path: String,
      numBuckets: Int): Unit = {
    Bucketed.writeBucketedKeys(counts, table, path, keys, numBuckets)
    graft.Layouts.stampFingerprint(counts.sparkSession, table, fp)
  }

  /** Append `counts` (keys…, __c) with `sign` +1 (ingest) or −1 (delete):
    * O(|counts|), through the same bucket spec as the build. */
  def add(counts: DataFrame, sign: Long, fp: String, numBuckets: Int): Unit = {
    require(sign == 1L || sign == -1L, s"CountStore.add: sign must be ±1, got $sign")
    checked(counts.sparkSession, fp)
    Bucketed.appendBucketedKeys(
      counts.select(keys.map(col) :+ (col("__c") * sign).as("__c"): _*),
      table, keys, numBuckets)
  }

  /** Merge split and negated rows to one row per key and purge the keys
    * whose net count fell to ≤ 0 ([[Bucketed.compactTable]]'s scaffold;
    * reads only the store, never the documents). */
  def compact(spark: SparkSession, numBuckets: Int): Unit =
    Bucketed.compactTable(spark, table, keys, numBuckets)(netPositive)

  /** Net counts (keys…, __c > 0) of the stored keys matching `probe` on
    * its columns, a subset of `keys` (a probe on `p` alone returns every
    * stored `(p, t)` under the probed contexts). The store is semi-joined
    * to the DISTINCT probe keys BEFORE the aggregate: per-probe cost is
    * bounded by the matched keys, not the store's total, and the semi-join
    * keeps the bucketed scan's HashPartitioning (store on the left of a
    * broadcast semi), so the aggregate adds no exchange on the store side
    * (PlanSpec-pinned). */
  def net(spark: SparkSession, probe: DataFrame, fp: String): DataFrame = {
    checked(spark, fp)
    netPositive(spark.table(table)
      .join(probe.distinct(), probe.columns.toSeq, "left_semi"))
  }

  private def netPositive(rows: DataFrame): DataFrame =
    rows.groupBy(keys.map(col): _*).agg(sum(col("__c")).cast("long").as("__c"))
      .filter(col("__c") > 0L)
}
