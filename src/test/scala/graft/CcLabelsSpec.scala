package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{CcLabels, Dedup}

class CcLabelsSpec extends SparkSpec {
  import spark.implicits._

  private def labels(pairs: Seq[(Long, Long)], ids: Seq[Long]): Map[Long, Long] =
    Dedup.connectedComponents(pairs.toDF("a_id", "b_id"), ids.toDF("doc_id"),
      "doc_id").as[(Long, Long)].collect().toMap

  test("deep chain converges and matches propagation") {
    val got = labels((0L until 59L).map(i => (i, i + 1)), 0L to 59L)
    assert(got == (0L to 59L).map(_ -> 0L).toMap)
  }

  test("multiple components + singletons, arbitrary edge orientation") {
    val got = labels(Seq((5L, 3L), (3L, 9L), (20L, 21L), (21L, 20L), (30L, 31L)),
      Seq(3L, 5L, 9L, 20L, 21L, 30L, 31L, 40L, 41L))
    assert(got == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 20L,
      30L -> 30L, 31L -> 30L, 40L -> 40L, 41L -> 41L))
  }

  test("empty edge list: every node its own cluster") {
    assert(labels(Seq.empty, Seq(1L, 2L, 3L)) == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("incremental ingest equals from-scratch CC; untouched components keep labels verbatim") {
    // stored base: {0,1,2} (label 0), {10,11} (label 10), {20,21} (label 20),
    // singleton 30. Delta {100,101,102}: 100 bridges components 0 and 10
    // (merge -> label 0), 101-102 pair among themselves (new component 101),
    // component 20 and singleton 30 are untouched.
    val basePairs = Seq((0L, 1L), (1L, 2L), (10L, 11L), (20L, 21L))
    val baseIds = Seq(0L, 1L, 2L, 10L, 11L, 20L, 21L, 30L)
    val stored = Dedup.connectedComponents(
      basePairs.toDF("a_id", "b_id"), baseIds.toDF("doc_id"), "doc_id")
    val deltaIds = Seq(100L, 101L, 102L)
    val newPairs = Seq((100L, 2L), (100L, 11L), (101L, 102L))
    val merged = CcLabels.incrementalComponents(stored, "doc_id",
      deltaIds.toDF("doc_id"), newPairs.toDF("a_id", "b_id"))
      .as[(Long, Long)].collect().toMap
    val truth = Dedup.connectedComponents(
      (basePairs ++ newPairs).toDF("a_id", "b_id"),
      (baseIds ++ deltaIds).toDF("doc_id"), "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(merged == truth)
    assert(merged(11L) == 0L && merged(100L) == 0L, "bridged components merge to min of mins")
    assert(merged(101L) == 101L && merged(102L) == 101L, "delta-only pairs form their own component")
    assert(merged(20L) == 20L && merged(21L) == 20L && merged(30L) == 30L,
      "untouched components keep stored labels")
  }

  test("re-ingesting an already-labeled id fails loudly, never duplicates rows") {
    val stored = Dedup.connectedComponents(
      Seq((0L, 1L)).toDF("a_id", "b_id"), Seq(0L, 1L, 2L).toDF("doc_id"),
      "doc_id")
    val e = intercept[IllegalArgumentException] {
      CcLabels.incrementalComponents(stored, "doc_id",
        Seq(1L, 100L).toDF("doc_id"), // 1 is already labeled
        Seq((100L, 2L)).toDF("a_id", "b_id"))
    }
    assert(e.getMessage.contains("re-ingests"))
  }

  // The shared streaming-ingest fixture: base {0,1}, {10,11}, singleton 2;
  // every delta doc pairs per allPairs — a deterministic stand-in for an
  // index probe.
  private val basePairs = Seq((0L, 1L), (10L, 11L))
  private val baseIds = Seq(0L, 1L, 2L, 10L, 11L)
  private val allPairs = Map(
    100L -> Seq((100L, 0L)),   // batch 1: 100 joins component 0
    101L -> Seq.empty[(Long, Long)], // batch 1: 101 is a new singleton
    110L -> Seq((110L, 10L), (110L, 101L))) // batch 2: merges 10-comp with 101
  private def pairsOf(b: DataFrame): DataFrame = {
    val ids = b.select("doc_id").as[Long].collect().toSeq
    val ps = ids.flatMap(allPairs.getOrElse(_, Seq.empty))
    if (ps.isEmpty) Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    else ps.toDF("a_id", "b_id")
  }
  private def initStore(): String = {
    val table = s"ccstream_${System.nanoTime()}"
    CcLabels.initLabelStore(
      Dedup.connectedComponents(basePairs.toDF("a_id", "b_id"),
        baseIds.toDF("doc_id"), "doc_id"),
      table, s"/tmp/graft_ccstream_${System.nanoTime()}", "doc_id", 2)
    table
  }
  private def stored(table: String): Map[Long, Long] =
    CcLabels.readLabels(spark, table, "doc_id").as[(Long, Long)].collect().toMap
  private def truth(ids: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.connectedComponents(
      (basePairs ++ pairs).toDF("a_id", "b_id"),
      (baseIds ++ ids).toDF("doc_id"), "doc_id")
      .as[(Long, Long)].collect().toMap

  test("streaming ingest: after every batch prefix the store equals one-shot CC; writes are O(affected ∪ delta), not |table|") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val table = initStore()
    val input = MemoryStream[Long]
    val query = CcLabels.ingestStream(spark, table, "doc_id", 2,
      input.toDF().toDF("doc_id"))(pairsOf)
    try {
      input.addData(Seq(100L, 101L)); query.processAllAvailable()
      assert(stored(table) == truth(Seq(100L, 101L), allPairs(100L)))
      // the written-rows pin: batch 1 relabels component {0,1} plus the
      // delta {100,101} — 4 physical rows appended to the 5-row base, not
      // a 9-row table rewrite
      assert(spark.table(table).count() == 5 + 4,
        "a batch must append only affected-members ∪ delta rows")
      input.addData(Seq(110L)); query.processAllAvailable()
      // batch 2 bridges the 10-component with batch 1's singleton 101
      val all = Seq(100L, 101L, 110L)
      val ps = all.flatMap(allPairs.getOrElse(_, Seq.empty))
      val t2 = truth(all, ps)
      assert(stored(table) == t2)
      assert(t2(110L) == 10L && t2(101L) == 10L,
        "the cross-batch merge must resolve through the stored labels")
      // batch 2 relabels {10,11} ∪ {101} plus delta {110} — 4 more rows
      assert(spark.table(table).count() == 5 + 4 + 4,
        "versioned appends, never a full-table rewrite")
    } finally query.stop()
  }

  test("per-batch store reads are partition-pruned point probes, never a table scan") {
    // 42 base ids across 4 partition buckets; the batch's one pair touches
    // one stored id — the probes must read ONLY the touched directories
    // (r14 verdict "next round" #3: the write side was O(affected ∪ delta)
    // but each batch still re-aggregated the full store).
    val table = s"ccprune_${System.nanoTime()}"
    val baseIds = (0L until 42L)
    CcLabels.initLabelStore(
      Dedup.connectedComponents(Seq((0L, 1L)).toDF("a_id", "b_id"),
        baseIds.toDF("doc_id"), "doc_id"),
      table, s"/tmp/graft_ccprune_${System.nanoTime()}", "doc_id", 4)
    val pairs = Seq((100L, 0L)).toDF("a_id", "b_id")
    val (ep, mem) = CcLabels.storeProbes(spark, table, "doc_id", 4, 0L, pairs)
    def scannedRows(df: org.apache.spark.sql.DataFrame, tbl: String): Long = {
      df.collect()
      // walk THROUGH the AQE stage wrappers (collect() stops at
      // QueryStageExec leaves) down to the file scans
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[Long] =
        (p match {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
              if s.tableIdentifier.exists(_.table == tbl) =>
            Seq(s.metrics("numOutputRows").value)
          case _ => Seq.empty
        }) ++ (p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            walk(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            walk(q.plan)
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
            walk(r.child)
          case other => other.children.flatMap(walk)
        })
      walk(df.queryExecution.executedPlan).sum
    }
    // the probes answer correctly...
    assert(ep.as[(Long, Long)].collect().toMap == Map(0L -> 0L),
      "endpoint labels: the stored endpoint only (100 is unstored)")
    assert(mem.as[(Long, Long)].collect().toMap == Map(0L -> 0L, 1L -> 0L),
      "members of the affected component only")
    // ...through pruned scans: the IN on the partition column reaches
    // PartitionFilters, and the scans output only the touched
    // directories' rows, never the table
    val epPlan = ep.queryExecution.executedPlan.toString
    assert(epPlan.contains("PartitionFilters") && epPlan.contains("__pb"),
      s"the endpoint probe must prune on __pb:\n$epPlan")
    val memPlan = mem.queryExecution.executedPlan.toString
    assert(memPlan.contains("PartitionFilters") && memPlan.contains("__cb"),
      s"the member probe must prune on __cb:\n$memPlan")
    val total = spark.table(table).count()
    val epScanned = scannedRows(ep, table)
    val memScanned = scannedRows(mem, CcLabels.memberTable(table))
    assert(epScanned > 0L && epScanned < total,
      s"endpoint probe scanned $epScanned of $total rows — must be the " +
        "touched buckets only")
    assert(memScanned > 0L && memScanned < total,
      s"member probe scanned $memScanned of $total rows — must be the " +
        "touched buckets only")
  }

  test("a replayed batch no-ops; a crash between append and marker replays to identical labels") {
    val table = initStore()
    val loc = Layouts.location(spark, table).get
    val b1 = Seq(100L, 101L).toDF("doc_id")
    val n1 = CcLabels.applyBatch(spark, table, "doc_id", 2, b1, 0L)(pairsOf)
    assert(n1 == 4L)
    val t1 = truth(Seq(100L, 101L), allPairs(100L))
    assert(stored(table) == t1)
    // at-least-once redelivery AFTER the marker advanced: a pure no-op
    assert(CcLabels.applyBatch(spark, table, "doc_id", 2, b1, 0L)(pairsOf) == 0L)
    assert(spark.table(table).count() == 9L, "replay must not re-append")
    assert(stored(table) == t1)
    // crash BETWEEN the append and the marker: rewind the sidecar to the
    // pre-batch state and replay — the as-of-watermark view hides the torn
    // rows, so the recompute is identical and the duplicate rows are
    // invisible under latest-wins
    CcLabels.writeApplied(spark, loc, -1L, 0L)
    assert(CcLabels.applyBatch(spark, table, "doc_id", 2, b1, 0L)(pairsOf) == 4L)
    assert(spark.table(table).count() == 13L, "the replay re-appends its 4 rows")
    assert(stored(table) == t1, "duplicate same-version rows must not change labels")
    // a later batch proceeds normally on top
    val b2 = Seq(110L).toDF("doc_id")
    assert(CcLabels.applyBatch(spark, table, "doc_id", 2, b2, 1L)(pairsOf) == 4L)
    val all = Seq(100L, 101L, 110L)
    assert(stored(table) == truth(all, all.flatMap(allPairs.getOrElse(_, Seq.empty))))
  }

  test("a lost applied-marker is loud once batches exist, silent-safe on a fresh store") {
    val table = initStore()
    val loc = Layouts.location(spark, table).get
    // fresh store, sidecar gone: safe fallback (nothing applied yet)
    val p = CcLabels.appliedPath(loc)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, false)
    assert(CcLabels.applyBatch(spark, table, "doc_id", 2,
      Seq(100L, 101L).toDF("doc_id"), 0L)(pairsOf) == 4L)
    // batches applied, sidecar gone: a replay could not be told from a
    // new batch — refuse loudly with the repair named, never wedge the
    // stream on the clash guard
    fs.delete(p, false)
    val e = intercept[IllegalStateException] {
      CcLabels.applyBatch(spark, table, "doc_id", 2,
        Seq(110L).toDF("doc_id"), 1L)(pairsOf)
    }
    assert(e.getMessage.contains("marker missing"), e.getMessage)
    assert(e.getMessage.contains("writeApplied"), e.getMessage)
    // the named repair unwedges it
    CcLabels.writeApplied(spark, loc, 0L, 1L)
    assert(CcLabels.applyBatch(spark, table, "doc_id", 2,
      Seq(110L).toDF("doc_id"), 1L)(pairsOf) == 4L)
    val all = Seq(100L, 101L, 110L)
    assert(stored(table) == truth(all, all.flatMap(allPairs.getOrElse(_, Seq.empty))))
  }

  test("compaction collapses version history to one row per key; labels and watermark survive") {
    val table = initStore()
    CcLabels.applyBatch(spark, table, "doc_id", 2,
      Seq(100L, 101L).toDF("doc_id"), 0L)(pairsOf)
    CcLabels.applyBatch(spark, table, "doc_id", 2,
      Seq(110L).toDF("doc_id"), 1L)(pairsOf)
    val before = stored(table)
    CcLabels.compactLabelStore(spark, table, "doc_id", 2)
    assert(spark.table(table).count() == before.size.toLong,
      "compaction keeps exactly one row per key")
    assert(stored(table) == before, "compaction changes layout, never labels")
    // the store keeps accepting batches after compaction (sidecar intact)
    assert(CcLabels.applyBatch(spark, table, "doc_id", 2,
      Seq(110L).toDF("doc_id"), 1L)(pairsOf) == 0L,
      "the applied marker survives compaction — a replay still no-ops")
  }
}
