package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.Cosine
import graft.operators.{CompactionKill, IvfIndex, LshIndex, PqIndex, Tombstones}

/** The delete lifecycle over stored layouts: tombstone add/read/clear,
  * reader exclusion, the search faces' `excludeIds`, and the compact purge
  * — including the forget invariant (tombstone-serving ≡ purged-serving ≡
  * search over the live corpus). */
class TombstonesSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private val K = 10
  private val Lists = 4
  private val Probes = 2

  private lazy val (queries, corpus) = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.filter($"vec_id" < 20)
      .select($"vec_id".as("qid"), $"embedding".cast("array<double>").as("qvec"))
    val c = emb.filter($"vec_id" >= 20)
      .select($"vec_id".as("cid"), $"embedding".cast("array<double>").as("cvec"))
    (q.cache(), c.cache())
  }

  private def deleted = $"cid" % 9 === 4

  private def freshLayout(name: String): (String, IvfIndex.Model) = {
    val path = s"/tmp/graft_tombspec_$name"
    val model = IvfIndex.fitSeeds(corpus, "cid", "cvec", Lists)
    IvfIndex.write(IvfIndex.assign(corpus, "cid", "cvec", model, Cosine),
      path, model, Cosine)
    (path, model)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select($"qid".cast("long"), $"cid".cast("long"), $"rank".cast("long"))
      .as[(Long, Long, Long)].collect().toSet

  test("add/read/clear roundtrip; absent store reads as None; exclusion is identity without deletes") {
    val (path, _) = freshLayout("roundtrip")
    assert(Tombstones.read(spark, path).isEmpty)
    assert(Tombstones.excludeDeleted(corpus, "cid", spark, path).count()
      == corpus.count())
    Tombstones.add(corpus.filter(deleted), "cid", path)
    val t = Tombstones.read(spark, path)
    assert(t.nonEmpty)
    val expected = corpus.filter(deleted).count()
    assert(t.get.count() == expected)
    // layout readers don't see the side store
    assert(spark.read.parquet(path).count() == corpus.count())
    Tombstones.clear(spark, path)
    assert(Tombstones.read(spark, path).isEmpty)
  }

  test("double-delete and unknown ids are no-ops for readers") {
    val (path, _) = freshLayout("noop")
    Tombstones.add(corpus.filter(deleted), "cid", path)
    Tombstones.add(corpus.filter(deleted), "cid", path) // duplicate markers
    Tombstones.add(Seq(999999L).toDF("cid"), "cid", path) // id not in layout
    val live = Tombstones.excludeDeleted(spark.read.parquet(path), "cid",
      spark, path)
    assert(live.count() == corpus.filter(!deleted).count())
    assert(live.filter(deleted).count() == 0)
  }

  test("search with excludeIds equals search over the live corpus; deleted ids never surface") {
    val (path, model) = freshLayout("search")
    Tombstones.add(corpus.filter(deleted), "cid", path)
    val tombed = IvfIndex.search(queries, "qid", "qvec",
      spark.read.parquet(path), "cid", "cvec", model, K, Probes, Cosine,
      excludeIds = Tombstones.read(spark, path))
    // truth: the same probe-pruned search over a corpus that never held
    // the deleted rows (model unchanged — deletes don't re-fit)
    val liveIndexed = IvfIndex.assign(corpus.filter(!deleted), "cid", "cvec",
      model, Cosine)
    val truth = IvfIndex.search(queries, "qid", "qvec", liveIndexed, "cid",
      "cvec", model, K, Probes, Cosine)
    assert(rows(tombed) == rows(truth))
    assert(tombed.filter($"cid" % 9 === 4).count() == 0)
  }

  test("compact purges tombstoned rows, clears the store, and preserves the model fingerprint") {
    val (path, model) = freshLayout("compact")
    Tombstones.add(corpus.filter(deleted), "cid", path)
    val pre = IvfIndex.search(queries, "qid", "qvec",
      spark.read.parquet(path), "cid", "cvec", model, K, Probes, Cosine,
      excludeIds = Tombstones.read(spark, path)).localCheckpoint()
    IvfIndex.compact(spark, path, "cid")
    val after = spark.read.parquet(path)
    assert(after.count() == corpus.filter(!deleted).count())
    assert(after.filter(deleted).count() == 0)
    assert(Tombstones.read(spark, path).isEmpty)
    // the forget invariant: tombstone-serving ≡ purged-serving
    val post = IvfIndex.search(queries, "qid", "qvec", after, "cid", "cvec",
      model, K, Probes, Cosine)
    assert(rows(pre) == rows(post))
    // identity carried across the rewrite: a delta append against the
    // build's model still passes the fingerprint gate
    IvfIndex.append(Seq((999999L, Seq.fill(64)(0.01)))
      .toDF("cid", "cvec").select($"cid", $"cvec".cast("array<double>")),
      "cid", "cvec", model, Cosine, path)
    assert(spark.read.parquet(path).count()
      == corpus.filter(!deleted).count() + 1)
  }

  test("appending a tombstoned id fails loudly; the same append passes after compact") {
    val (path, model) = freshLayout("resurrect")
    Tombstones.add(corpus.filter(deleted), "cid", path)
    val deadId = corpus.filter(deleted).select(min($"cid")).head().getLong(0)
    val delta = Seq((deadId, Seq.fill(64)(0.01))).toDF("cid", "cvec")
      .select($"cid", $"cvec".cast("array<double>"))
    // exclusion is by id: the re-insert would stay hidden behind its own
    // tombstone — a silent lost insert the append guard turns loud
    val e = intercept[IllegalArgumentException] {
      IvfIndex.append(delta, "cid", "cvec", model, Cosine, path)
    }
    assert(e.getMessage.contains("tombstoned ids"))
    IvfIndex.compact(spark, path, "cid")
    IvfIndex.append(delta, "cid", "cvec", model, Cosine, path)
    val served = IvfIndex.search(queries, "qid", "qvec",
      spark.read.parquet(path), "cid", "cvec", model, K, Probes, Cosine,
      excludeIds = Tombstones.read(spark, path))
    // the re-inserted id is live again (and unique) after compact → append
    assert(spark.read.parquet(path).filter($"cid" === deadId).count() == 1)
    assert(served.count() > 0)
  }

  test("metadata filter and tombstones compose: serving equals search over pred ∩ live") {
    val (path, model) = freshLayout("compose")
    Tombstones.add(corpus.filter(deleted), "cid", path)
    val pred = $"cid" % 2 === 0
    val served = IvfIndex.search(queries, "qid", "qvec",
      spark.read.parquet(path).filter(pred), "cid", "cvec", model, K,
      Probes, Cosine, excludeIds = Tombstones.read(spark, path))
    val truth = IvfIndex.search(queries, "qid", "qvec",
      IvfIndex.assign(corpus.filter(pred && !deleted), "cid", "cvec", model,
        Cosine), "cid", "cvec", model, K, Probes, Cosine)
    assert(rows(served) == rows(truth))
  }

  test("table compaction preserves delete markers; purge drops entries and markers together") {
    val path = "/tmp/graft_tombspec_lshtab"
    val table = "tombspec_lsh"
    LshIndex.writeIndex(corpus, "cid", "cvec", 64, 0.4, 3, 2, table, path, 4)
    Tombstones.add(corpus.filter(deleted), "cid", path)
    val entriesBefore = spark.table(table)
      .select($"tbl", $"bucket", $"cid").as[(Int, String, Long)].collect().toSet
    // plain compaction is layout-only: markers are reader-visible state
    // and must survive the rewrite (dropping them would resurrect rows)
    LshIndex.compactIndex(spark, table, 4)
    assert(Tombstones.read(spark, path).nonEmpty)
    assert(spark.table(table).select($"tbl", $"bucket", $"cid")
      .as[(Int, String, Long)].collect().toSet == entriesBefore)
    // purge: tombstoned entries leave the files, markers die with them
    LshIndex.purgeDeleted(spark, table, "cid", 4)
    assert(Tombstones.read(spark, path).isEmpty)
    val after = spark.table(table).select($"tbl", $"bucket", $"cid")
      .as[(Int, String, Long)].collect().toSet
    assert(after == entriesBefore.filterNot(_._3 % 9 == 4))
    assert(after.nonEmpty)
  }

  test("codes-table compaction preserves markers; purge variant drops tombstoned codes") {
    val path = "/tmp/graft_tombspec_pqtab"
    val table = "tombspec_pq"
    val pqModel = PqIndex.fitSeeds(corpus, "cid", "cvec", 8, 16)
    val ivfModel = IvfIndex.fitSeeds(corpus, "cid", "cvec", Lists)
    PqIndex.writeIvfIndex(corpus, "cid", "cvec", pqModel, ivfModel, Cosine,
      table, path)
    Tombstones.add(corpus.filter(deleted), "cid", path)
    val n = corpus.count()
    PqIndex.compactIvfIndex(spark, table)
    assert(Tombstones.read(spark, path).nonEmpty)
    assert(spark.table(table).count() == n)
    PqIndex.compactIvfIndex(spark, table, purgeIdCol = Some("cid"))
    assert(Tombstones.read(spark, path).isEmpty)
    assert(spark.table(table).count() == corpus.filter(!deleted).count())
    assert(spark.table(table).filter($"cid" % 9 === 4).count() == 0)
  }

  test("dedup index: excluded docs match nothing; purge equals marker-exclusion; live-built index agrees") {
    import graft.operators.JaccardIndex
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val corpus0 = docs.filter($"doc_id" % 10 =!= 0)
    val delta = docs.filter($"doc_id" % 10 === 0)
    val dead = $"doc_id" % 2 === 0
    val base = "/tmp/graft_tombspec_jidx"
    val t = JaccardIndex.build(corpus0, "doc_id", "text", 3, 0.5,
      "tombspec", base, 4)
    Tombstones.add(corpus0.filter(dead), "doc_id", base)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select($"a_id".cast("long"), $"b_id".cast("long"))
        .as[(Long, Long)].collect().toSet
    val excl = pairs(JaccardIndex.incrementalJoin(spark, t, delta, "doc_id",
      "text", 3, 0.5, excludeIds = Tombstones.read(spark, base)))
    assert(excl.forall(_._2 % 2 != 0))
    assert(excl.nonEmpty)
    // truth: an index that never held the dead docs — verified pairs are
    // order-independent, so the two answers are exactly equal
    val tLive = JaccardIndex.build(corpus0.filter(!dead), "doc_id", "text",
      3, 0.5, "tombspeclive", base + "_live", 4)
    assert(excl == pairs(JaccardIndex.incrementalJoin(spark, tLive, delta,
      "doc_id", "text", 3, 0.5)))
    // physical purge: same answer with no markers left
    JaccardIndex.purgeDeleted(spark, t, base, 4)
    assert(Tombstones.read(spark, base).isEmpty)
    assert(excl == pairs(JaccardIndex.incrementalJoin(spark, t, delta,
      "doc_id", "text", 3, 0.5)))
  }

  test("count store: delete is an exact decrement, probes read net presence, compact purges net-zero") {
    import graft.operators.SpanDedup
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val corpus0 = docs.filter($"doc_id" % 10 =!= 0)
    val delta = docs.filter($"doc_id" % 10 === 0)
    val dead = corpus0.filter($"doc_id" % 2 === 0)
    def stats(t: SpanDedup.IndexTable): Seq[(Long, Long, Long, Long)] =
      SpanDedup.incrementalSpanStats(spark, t, delta, "doc_id", "text", 8)
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val t = SpanDedup.buildIndex(corpus0, "doc_id", "text", 8,
      "tombspecspan", "/tmp/graft_tombspec_span", 4)
    val full = stats(t)
    SpanDedup.deleteFromIndex(t, dead, "doc_id", "text", 8, 4)
    val afterDelete = stats(t)
    // truth: an index that never held the dead docs
    val tLive = SpanDedup.buildIndex(corpus0.filter($"doc_id" % 2 =!= 0),
      "doc_id", "text", 8, "tombspecspanlive", "/tmp/graft_tombspec_spanlive", 4)
    assert(afterDelete == stats(tLive))
    assert(afterDelete != full) // the fixture actually unmarks something
    // compact physically purges net-zero hashes; the answer is unchanged
    SpanDedup.compactIndex(spark, t, 4)
    assert(spark.table(t.counts).filter($"__c" <= 0L).count() == 0)
    assert(stats(t) == afterDelete)
    // delete ∘ append ≡ id: decrement arithmetic is exact, so re-ingesting
    // the same docs restores the original answer (the count store CAN
    // resurrect — the honest contrast with id-tombstones, which cannot)
    SpanDedup.appendToIndex(t, dead, "doc_id", "text", 8, 4)
    assert(stats(t) == full)
  }

  test("chunk store: decrement delete, net-presence probe, delete-then-reingest restores") {
    import graft.operators.Cdc
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val corpus0 = docs.filter($"doc_id" % 10 =!= 0)
    val delta = docs.filter($"doc_id" % 10 === 0)
    val dead = corpus0.filter($"doc_id" % 2 === 0)
    val mod = Cdc.DefaultModulus
    def probe(t: Cdc.StoreTable): Seq[(Long, Long, Long, Long, Long)] =
      Cdc.probeStore(spark, t, delta, "doc_id", "text", mod)
        .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
    val t = Cdc.buildStore(corpus0, "doc_id", "text", mod,
      "tombspeccdc", "/tmp/graft_tombspec_cdc", 4)
    val full = probe(t)
    Cdc.deleteFromStore(t, dead, "doc_id", "text", mod, 4)
    val afterDelete = probe(t)
    val tLive = Cdc.buildStore(corpus0.filter($"doc_id" % 2 =!= 0),
      "doc_id", "text", mod, "tombspeccdclive", "/tmp/graft_tombspec_cdclive", 4)
    assert(afterDelete == probe(tLive))
    assert(afterDelete != full)
    Cdc.compactStore(spark, t, 4)
    assert(spark.table(t.chunks).filter($"__c" <= 0L).count() == 0)
    assert(probe(t) == afterDelete)
    Cdc.appendToStore(t, dead, "doc_id", "text", mod, 4)
    assert(probe(t) == full)
  }

  test("streaming takedowns: each micro-batch's deletes are served after its commit") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (path, model) = freshLayout("stream")
    val deadIds = corpus.filter(deleted).select($"cid").as[Long].collect().toSeq
    val (b1, b2) = deadIds.splitAt(deadIds.size / 2)
    val input = MemoryStream[Long]
    val query = Tombstones.addStream(input.toDF().toDF("cid"), "cid", path)
    def served() = IvfIndex.search(queries, "qid", "qvec",
      spark.read.parquet(path), "cid", "cvec", model, K, Probes, Cosine,
      excludeIds = Tombstones.read(spark, path))
    try {
      input.addData(b1); query.processAllAvailable()
      // batch-parity after the first prefix: only b1 is dead
      val liveIndexed1 = IvfIndex.assign(
        corpus.filter(!$"cid".isin(b1: _*)), "cid", "cvec", model, Cosine)
      assert(rows(served()) == rows(IvfIndex.search(queries, "qid", "qvec",
        liveIndexed1, "cid", "cvec", model, K, Probes, Cosine)))
      input.addData(b2); query.processAllAvailable()
      assert(Tombstones.read(spark, path).get.count() == deadIds.size)
      assert(served().filter(deleted).count() == 0)
    } finally query.stop()
  }

  test("a compaction killed after its rewrite keeps every marker; serving still excludes every deleted id") {
    val (path, model) = freshLayout("crashwin")
    Tombstones.add(corpus.filter(deleted), "cid", path)
    val n = corpus.filter(deleted).count()
    // layout-only rewrite landed, then the kill: the markers sit in the
    // layout's sidecar, which the rewrite never touches
    CompactionKill.ivfAfterRewrite(spark, path, None)
    val t = Tombstones.read(spark, path)
    assert(t.nonEmpty && t.get.select($"id").distinct().count() == n)
    assert(Tombstones.excludeDeleted(spark.read.parquet(path), "cid",
      spark, path).filter(deleted).count() == 0)
    assert(IvfIndex.search(queries, "qid", "qvec", spark.read.parquet(path),
      "cid", "cvec", model, K, Probes, Cosine,
      excludeIds = Tombstones.read(spark, path)).filter(deleted).count() == 0)
    // the fence stays raised until the re-run completes
    intercept[IllegalArgumentException] {
      Tombstones.add(corpus.filter(deleted), "cid", path)
    }
    IvfIndex.compact(spark, path, "cid")
    assert(Tombstones.read(spark, path).isEmpty)
    assert(spark.read.parquet(path).filter(deleted).count() == 0)
    Tombstones.add(corpus.filter(deleted), "cid", path)
  }

  test("a purge killed before its marker clear serves the same answer; the re-run clears the markers") {
    val (path, model) = freshLayout("purgekill")
    Tombstones.add(corpus.filter(deleted), "cid", path)
    def served(excl: Option[org.apache.spark.sql.DataFrame]) =
      rows(IvfIndex.search(queries, "qid", "qvec", spark.read.parquet(path),
        "cid", "cvec", model, K, Probes, Cosine, excludeIds = excl))
    val before = served(Tombstones.read(spark, path))
    CompactionKill.ivfAfterRewrite(spark, path, Some("cid"))
    // the purged files landed; the markers are still in place
    assert(spark.read.parquet(path).filter(deleted).count() == 0)
    assert(Tombstones.read(spark, path).nonEmpty)
    assert(served(Tombstones.read(spark, path)) == before)
    assert(served(None) == before)
    IvfIndex.compact(spark, path, "cid")
    assert(Tombstones.read(spark, path).isEmpty)
    assert(served(None) == before)
  }

  test("a rebuild carries the fence epoch forward: a takedown straddling a rebuild and a compaction raises") {
    val (path, _) = freshLayout("fencecarry")
    IvfIndex.compact(spark, path, "cid")
    val before = Tombstones.readFence(spark, path)
    assert(before.epoch > 0 && !before.inProgress)
    // a takedown that read `before`, then a rebuild plus one compaction:
    // had the rebuild restarted the epoch, the compaction would bring it
    // back to `before` and the takedown would land unfenced
    freshLayout("fencecarry")
    assert(Tombstones.readFence(spark, path) == before)
    IvfIndex.compact(spark, path, "cid")
    val e = intercept[IllegalArgumentException] {
      Tombstones.requireFenceAt(spark, path, before)
    }
    assert(e.getMessage.contains("raced"))
  }

  test("a takedown racing a maintenance rewrite raises instead of being silently destroyed") {
    // the single-maintenance-writer contract, now FENCED (r12 verdict
    // "what's missing" #2): a Tombstones.add landing inside a
    // compaction/purge window would be lost with the files the rewrite
    // replaces — the fence turns that into a loud failure
    val (path, _) = freshLayout("fence")
    val dead = corpus.filter(deleted)
    Tombstones.fencedRewrite(spark, path) {
      val e = intercept[IllegalArgumentException] {
        Tombstones.add(dead, "cid", path)
      }
      assert(e.getMessage.contains("in progress"))
    }
    // the window closed — the same takedown now lands
    Tombstones.add(dead, "cid", path)
    assert(Tombstones.read(spark, path).nonEmpty)
  }

  test("a crashed rewrite leaves the fence raised; a fresh rebuild heals it") {
    val (path, _) = freshLayout("fencecrash")
    intercept[RuntimeException] {
      Tombstones.fencedRewrite(spark, path) {
        throw new RuntimeException("simulated mid-rewrite crash")
      }
    }
    // the layout may be torn — takedowns must stay loud, not silently
    // accept markers whose durability nothing can promise
    val e = intercept[IllegalArgumentException] {
      Tombstones.add(corpus.filter(deleted), "cid", path)
    }
    assert(e.getMessage.contains("in progress"))
    // the rebuild IS the repair: a fresh build completes the fence
    val (_, _) = freshLayout("fencecrash")
    Tombstones.add(corpus.filter(deleted), "cid", path)
    assert(Tombstones.read(spark, path).nonEmpty)
  }

  test("compacting an all-tombstoned layout refuses loudly and leaves everything serving") {
    val (path, model) = freshLayout("alldead")
    Tombstones.add(corpus, "cid", path) // every row dead
    val e = intercept[graft.operators.Tombstones.LayoutUntouched] {
      IvfIndex.compact(spark, path, "cid")
    }
    assert(e.getMessage.contains("every row"))
    // LayoutUntouched completed the fence: the layout is unchanged,
    // still readable, markers intact, and still accepts takedowns
    assert(spark.read.parquet(path).count() == corpus.count())
    assert(Tombstones.read(spark, path).nonEmpty)
    Tombstones.add(Seq(999999L).toDF("cid"), "cid", path)
    // and exclusion still serves the (empty) live set, not an error
    assert(IvfIndex.search(queries, "qid", "qvec", spark.read.parquet(path),
      "cid", "cvec", model, K, Probes, Cosine,
      excludeIds = Tombstones.read(spark, path)).count() == 0)
  }

  test("a fresh rebuild drops a crashed compaction's markers and heals its fence") {
    // markers in place, a compaction killed after its rewrite, then a FULL
    // REBUILD at the same path: the sidecar outlives the rebuild's
    // overwrite, so without the build-face clear the old markers would
    // kill live rows of the NEW build
    val (path, _) = freshLayout("stalebak")
    Tombstones.add(corpus.filter(deleted), "cid", path)
    CompactionKill.ivfAfterRewrite(spark, path, None)
    val (_, model) = freshLayout("stalebak")
    assert(Tombstones.read(spark, path).isEmpty,
      "a fresh build must not inherit the crashed cycle's markers")
    assert(Tombstones.excludeDeleted(spark.read.parquet(path), "cid",
      spark, path).count() == corpus.count())
    // the healed fence accepts takedowns again
    Tombstones.add(corpus.filter(deleted), "cid", path)
    assert(IvfIndex.search(queries, "qid", "qvec", spark.read.parquet(path),
      "cid", "cvec", model, K, Probes, Cosine,
      excludeIds = Tombstones.read(spark, path)).filter(deleted).count() == 0)
  }

  test("compact on a layout with no tombstones is a pure rewrite") {
    val (path, model) = freshLayout("nochange")
    IvfIndex.compact(spark, path, "cid")
    assert(spark.read.parquet(path).count() == corpus.count())
    val s1 = IvfIndex.search(queries, "qid", "qvec", spark.read.parquet(path),
      "cid", "cvec", model, K, Probes, Cosine)
    val s2 = IvfIndex.search(queries, "qid", "qvec",
      IvfIndex.assign(corpus, "cid", "cvec", model, Cosine), "cid", "cvec",
      model, K, Probes, Cosine)
    assert(rows(s1) == rows(s2))
  }
}
