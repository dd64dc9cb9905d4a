package graft

/** Plan-quality regression guards: the properties that make these queries
  * scale — predicate pushdown into the parquet scan, column pruning,
  * broadcast of small join sides, whole-stage codegen — asserted against
  * the physical plan so a refactor can't silently trade them away. Runs at
  * sf0.001 (plans don't depend on the scale factor).
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(query: String): String = {
    // Execute first: AQE's pre-execution plan hides codegen markers and
    // runtime join selections; the final plan is the one that matters.
    val df = SparkEntry.queries(query)(spark, dir)
    df.collect() // count() would execute a DIFFERENT (re-optimized) plan
    df.queryExecution.executedPlan.toString
  }

  test("relational scans push filters and prune columns") {
    val plan = planOf("rel_pricing_summary")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"),
      s"shipdate filter should reach the lineitem scan:\n$plan")
    assert(!plan.contains("l_comment"),
      s"untouched columns must not be read (ReadSchema should prune l_comment):\n$plan")
  }

  test("k-NN join broadcasts the query side, never a shuffle of the corpus") {
    val plan = planOf("knn_cosine_topk")
    assert(plan.contains("Broadcast"), s"query side should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"flagship k-NN must not sort-merge the corpus:\n$plan")
  }

  test("text analysis is one narrow stage: no shuffle, no join") {
    // HOF expressions are interpreted (Spark doesn't codegen lambdas), so
    // the property that matters is the SHAPE: a single scan→project pass.
    val plan = planOf("text_stats")
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"per-doc text features must stay map-side:\n$plan")
  }

  test("aggregation pipeline runs inside whole-stage codegen") {
    // codegen'd operators print with the "*(n)" stage marker
    val plan = planOf("rel_pricing_summary")
    assert(plan.contains("*(1) HashAggregate") || plan.contains("*(1) Filter"),
      s"scan→filter→partial-agg should fuse into one codegen stage:\n$plan")
  }

  test("indexed incremental dedup probes the stored index; corpus never re-shingled") {
    val plan = planOf("dedup_jaccard_incremental_indexed")
    assert(plan.contains("graft_jidx_prefix_"),
      s"candidate join should probe the persisted prefix table:\n$plan")
    assert(plan.contains("graft_jidx_docsets_"),
      s"verification should read the persisted per-doc gram sets:\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"index probes should use the bucketed layout:\n$plan")
    // O(delta) guarantee: every scan of the raw documents table is the DELTA
    // (doc_id % 10 = 0) — a corpus-side df recount or re-shingling would
    // show up as a documents scan without that filter.
    val unfiltered = plan.linesIterator
      .filter(_.contains("documents.parquet")).filterNot(_.contains("% 10"))
    assert(unfiltered.isEmpty,
      s"corpus-side documents scan leaked into the indexed plan:\n$plan")
  }

  test("probe-store presence is delta-bounded: the counts scan feeds a semi join, never a full-store aggregate") {
    // r12 advice: the net-presence test used to aggregate the ENTIRE count
    // store per probe batch. Pin the fixed shape on both stores: the
    // bucketed counts scan's ancestor chain up to its aggregation runs
    // through a LeftSemi against the delta's hashes, with NO Exchange —
    // the store side keeps its bucketed HashPartitioning end to end.
    for ((q, tablePrefix) <- Seq(
        "dedup_span_incremental" -> "graft_spanidx_",
        "dedup_cdc_incremental" -> "graft_cdcstore_")) {
      val plan = planOf(q).split("== Initial Plan ==").head
      val lines = plan.linesIterator.toVector
      def indent(l: String): Int = l.indexWhere(c => c.isLetter || c == '*')
      val scanIdx = lines.indexWhere(l =>
        l.contains("Scan parquet") && l.contains(tablePrefix))
      assert(scanIdx >= 0, s"$q: no bucketed counts scan found:\n$plan")
      // ancestors = lines above the scan with strictly decreasing indent
      var minIndent = indent(lines(scanIdx))
      val chain = (scanIdx - 1 to 0 by -1).iterator.map(lines).filter { l =>
        val i = indent(l)
        if (i >= 0 && i < minIndent) { minIndent = i; true } else false
      }.takeWhile(!_.contains("HashAggregate")).toVector
      assert(chain.exists(_.contains("LeftSemi")),
        s"$q: counts scan must be delta-restricted by a semi join before " +
          s"any aggregation; ancestor chain:\n${chain.mkString("\n")}\n$plan")
      assert(!chain.exists(_.contains("Exchange")),
        s"$q: the store side must keep its bucketed partitioning (no " +
          s"Exchange below the presence aggregate):\n${chain.mkString("\n")}\n$plan")
    }
  }

  test("stored-LM scoring probes the model tables; only the delta scans raw documents") {
    val plan = planOf("text_lm_stored_logprob")
    assert(plan.contains("graft_lm_uni_") && plan.contains("graft_lm_bi_"),
      s"scoring should probe the persisted count tables:\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"model probes should use the bucketed layout:\n$plan")
    assert(plan.contains("LeftSemi"),
      s"the net-count probes must be delta-restricted:\n$plan")
    // O(delta) guarantee: every raw documents scan is the DELTA slice
    // (doc_id % 10 = 0) — a corpus re-count would scan without the filter.
    val unfiltered = plan.linesIterator
      .filter(_.contains("documents.parquet")).filterNot(_.contains("% 10"))
    assert(unfiltered.isEmpty,
      s"corpus-side documents scan leaked into the stored-LM plan:\n$plan")
    // the (total, V) normalizer is maintained state: the unigram store
    // appears ONLY as the two delta-restricted probe legs (the __cp and
    // __cn joins — the shared probe subtree plans twice, both LeftSemi-
    // bounded). A third scan, or any scan aggregating WITHOUT the semi,
    // would be the old per-batch vocab-wide aggregation creeping back;
    // the scalars come off the tiny stats table instead.
    val finalPlan = plan.split("== Initial Plan ==").head
    val lines = finalPlan.linesIterator.toVector
    def indent(l: String): Int = l.indexWhere(c => c.isLetter || c == '*')
    val uniScans = lines.zipWithIndex.filter { case (l, _) =>
      l.contains("Scan parquet") && l.contains("graft_lm_uni_") }
    assert(uniScans.size == 2,
      s"scoring must touch the unigram store exactly twice (the two probe " +
        s"legs), found ${uniScans.size}:\n$plan")
    uniScans.foreach { case (_, scanIdx) =>
      var minIndent = indent(lines(scanIdx))
      val chain = (scanIdx - 1 to 0 by -1).iterator.map(lines).filter { l =>
        val i = indent(l)
        if (i >= 0 && i < minIndent) { minIndent = i; true } else false
      }.takeWhile(!_.contains("HashAggregate")).toVector
      assert(chain.exists(_.contains("LeftSemi")),
        s"every unigram-store scan must be delta-restricted by a semi join " +
          s"before any aggregation; ancestor chain:\n${chain.mkString("\n")}\n$plan")
    }
    assert(finalPlan.contains("graft_lm_stats_"),
      s"the normalizer must read the maintained stats table:\n$plan")
  }

  test("chunking is one narrow stage; packing shuffles once, keyed on the group") {
    val chunk = planOf("text_chunk_windows")
    assert(!chunk.contains("Exchange") && !chunk.contains("Join"),
      s"chunk windows must stay map-side (scan→project→generate):\n$chunk")
    // AQE prints the pre-adaptive plan again under "== Initial Plan ==" —
    // count Exchanges in the final section only.
    val pack = planOf("text_pack_shards").split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(pack).size
    assert(exchanges == 1,
      s"shard packing should shuffle exactly once (on grp), found $exchanges:\n$pack")
    assert(!pack.contains("SinglePartition"),
      s"shard packing must never collapse to a global single-partition sort:\n$pack")
  }

  test("span dedup: dup-hash mark is a keyed join, island windows are per-doc and share one exchange") {
    val plan = planOf("dedup_span_stats").split("== Initial Plan ==").head
    // The duplicated-hash set joins back onto the positional stream keyed on
    // the window hash (broadcast at this SF; a shuffled hash join at scale)
    // — never a sort-merge of the full positional stream and never a
    // cartesian anything.
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Cartesian"),
      s"the mark-join must stay hash-keyed:\n$plan")
    // Both running windows (lag + island sum) partition by the doc id —
    // an unpartitioned window would drag every duplicated position into one
    // task — and share a single hashpartitioning exchange; the only other
    // shuffle is the occurrence-count aggregation on the window hash.
    assert(!plan.contains("SinglePartition"),
      s"island merge must never collapse to a single partition:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 2,
      s"span stats should shuffle exactly twice (gram-hash count + per-doc window), found $exchanges:\n$plan")
  }

  test("vocab is a bounded take broadcast into the coverage join; shuffle ranks never single-partition") {
    val vocab = planOf("text_vocab_coverage").split("== Initial Plan ==").head
    assert(vocab.contains("TakeOrderedAndProject"),
      s"top-V vocab must be a bounded take, not a global sort:\n$vocab")
    assert(vocab.contains("BroadcastHashJoin"),
      s"the V-row vocab should broadcast onto the token stream:\n$vocab")
    val shuffle = planOf("sample_docs_shuffle").split("== Initial Plan ==").head
    assert(!shuffle.contains("SinglePartition"),
      s"shuffle ranks must partition by shard, never collapse globally:\n$shuffle")
  }

  test("token-budget fill broadcasts its targets and windows per group") {
    val plan = planOf("sample_token_budget").split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      s"the per-group targets (|groups| rows) should broadcast onto the corpus:\n$plan")
    // The running sum must partition by the group — an unpartitioned
    // window would drag the whole corpus through one task. (The 1-row
    // budget-total aggregate legitimately uses SinglePartition, so the
    // assertion targets the Window node itself.)
    val winLines = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("windowspecdefinition(source")),
      s"running sums must window per group:\n$plan")
  }

  test("dimension joins broadcast the dimension side") {
    val plan = planOf("rel_region_revenue")
    assert(plan.contains("BroadcastHashJoin"),
      s"nation/region dims should broadcast:\n$plan")
  }

  test("bloom prune filters the fact scan BEFORE the join") {
    val plan = planOf("join_bloom_pruned")
    assert(plan.contains("bloom_might_contain"),
      s"the bloom probe should appear in the plan:\n$plan")
    // The probe must sit in the scan-side Filter, not above the join: in the
    // executed plan string the Filter(bloom_might_contain...) line appears
    // BELOW (after) the join operator line it feeds.
    val lines = plan.linesIterator.toSeq
    val probeAt = lines.indexWhere(l =>
      l.contains("Filter") && l.contains("bloom_might_contain"))
    val joinAt = lines.indexWhere(l => l.contains("Join") && l.contains("l_orderkey"))
    assert(probeAt > joinAt && joinAt >= 0,
      s"bloom probe should prune below the join (probe@$probeAt, join@$joinAt):\n$plan")
  }

  test("semantic dedup's cluster assignment is a pure projection (no shuffle, no window)") {
    // Asserted on the assignment operator directly: inside dedup_semantic
    // the frame sits behind a Caches stage, which hides its plan. The
    // r3-era window-based assign cost a corpus-wide hash exchange; the
    // literal-centroid argmin must stay a Project fused into the scan.
    import org.apache.spark.sql.functions.col
    val emb = graft.operators.Embedder.hashTfEmbed(
      graft.io.Tables.documents(spark, dir), "doc_id", "text", 16)
    val model = graft.operators.IvfIndex.fitSeeds(emb, "doc_id", "embedding", 4)
    val assigned = graft.operators.IvfIndex.assign(
      emb.select(col("doc_id"), col("embedding")), "doc_id", "embedding",
      model, graft.functions.VectorFunctions.Cosine)
    assigned.collect()
    // The embedder legitimately shuffles on doc_id to densify; assignment
    // must add NOTHING on top: same exchange count as its input, no window.
    val base = { emb.collect(); emb.queryExecution.executedPlan.toString }
    val plan = assigned.queryExecution.executedPlan.toString
    def exchanges(p: String) = "Exchange".r.findAllIn(p).size
    assert(exchanges(plan) == exchanges(base),
      s"assignment added a shuffle:\n$plan")
    assert(!plan.contains("Window"), s"assignment must not use a window:\n$plan")
    assert(plan.contains("array_sort") || plan.contains("sort_array"),
      s"argmin should be the literal-centroid sort projection:\n$plan")
  }

  test("ANN append ingest scans ONLY the delta; base corpus and stored index never read") {
    import org.apache.spark.sql.functions._
    import graft.operators.{IvfIndex, PqIndex}
    // The exact frame appendToIvfIndex writes: assign + encode of the
    // delta slice against given models. O(delta) means every source scan
    // carries the delta predicate and nothing else is read.
    // Cache-free plan: other suites' Caches frames over the same corpus
    // would otherwise substitute an InMemoryTableScan whose INNER plan
    // (the cache's own unfiltered build scan) trips the leak detector —
    // a shared-test-JVM artifact, not an ingest property.
    graft.Caches.clear()
    spark.sharedState.cacheManager.clearCache()
    val emb = graft.io.Tables.embeddings(spark, dir)
    val c = emb.filter(col("vec_id") >= 20)
      .select(col("vec_id").as("skill_id"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("svec"))
    val isDelta = pmod(col("skill_id"), lit(10L)) === 7L && col("skill_id") >= 36L
    val (base, delta) = (c.filter(!isDelta), c.filter(isDelta))
    val pqModel = PqIndex.fitSeeds(base, "skill_id", "svec", 8, 16)
    val ivfModel = IvfIndex.fitSeeds(base, "skill_id", "svec", 4)
    val frame = IvfIndex.assign(delta, "skill_id", "svec", ivfModel,
        graft.functions.VectorFunctions.Cosine)
      .select(col("skill_id"), col("list_id"))
      .join(PqIndex.encode(delta, "skill_id", "svec", pqModel), "skill_id")
      .select(col("skill_id"), col("codes"), col("list_id"))
    frame.collect()
    val plan = frame.queryExecution.executedPlan.toString
    val unfiltered = plan.linesIterator
      .filter(_.contains("embeddings.parquet"))
      .filterNot(l => l.contains("pmod") || l.contains("% 10"))
    assert(unfiltered.isEmpty,
      s"append ingest leaked a non-delta embeddings scan:\n$plan")
    assert(!plan.contains("graft_pqapp") && !plan.contains("graft_lshapp"),
      s"append ingest must never read the stored index:\n$plan")
  }

  test("Hamming top-k broadcasts packed queries; corpus never sort-merges") {
    val plan = planOf("knn_hamming_topk")
    assert(plan.contains("Broadcast"),
      s"packed query side should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"binary search must not sort-merge the corpus:\n$plan")
  }

  test("Hamming refine joins only the shortlist back to float vectors") {
    val plan = planOf("knn_hamming_refine")
    assert(!plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin"),
      s"refine joins should stay broadcast-sized:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"refine must never cross-join the corpus:\n$plan")
  }

  test("PQ ADC search broadcasts the query side and scans codes only") {
    val plan = planOf("pq_ann_topk")
    assert(plan.contains("Broadcast"),
      s"distance-table side should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"ADC scan must not sort-merge the corpus:\n$plan")
  }

  test("IVF-PQ broadcasts its probes onto the code scan; corpus never sort-merges") {
    val plan = planOf("ivfpq_ann_topk")
    assert(plan.contains("BroadcastHashJoin"),
      s"probes should broadcast onto the list-pruned code scan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus side must never shuffle for the ADC join:\n$plan")
  }

  test("temperature mixture is one broadcast-joined filter pass over the corpus") {
    val plan = planOf("sample_mixture_temperature").split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      s"per-group rates should broadcast back onto the corpus:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must never shuffle for its rate lookup:\n$plan")
  }

  test("salted join replicates the dim ×buckets and joins on (key, salt)") {
    val plan = planOf("join_skew_salted")
    // The dim side must replicate through explode(sequence(0, buckets-1)) —
    // a Generate node — not broadcast: the operator exists for dims too big
    // to broadcast, and the salt only spreads skew if the join shuffles
    // BOTH sides on (key, __salt).
    assert(plan.contains("Generate explode"),
      s"dim side should replicate via explode(sequence):\n$plan")
    assert(plan.contains("__salt"),
      s"join keys should include the salt column:\n$plan")
    val joinLine = plan.linesIterator
      .find(l => l.contains("Join") && l.contains("o_orderpriority"))
    assert(joinLine.exists(l => l.contains("__salt") && !l.contains("Broadcast")),
      s"the equi-join must key on (o_orderpriority, __salt) and not broadcast:\n$plan")
  }

  test("funnel stages shuffle only on user_id — no full-log sort or window") {
    val plan = planOf("events_funnel")
    assert(!plan.contains("Window"),
      s"the funnel must be keyed aggs/joins, never a full-log window:\n$plan")
    assert(!plan.contains("SortMergeJoin") || plan.contains("user_id"),
      s"stage joins must key on user_id:\n$plan")
  }

  test("crawl schedule windows partition by host — never a global sort or window") {
    // the politeness schedule's 100 TB shape: one keyed window per host;
    // a global row_number over the frontier (an empty-partition window or
    // a global Sort) would single-thread billions of URLs
    val plan = planOf("rank_crawl_schedule")
    val windowLines = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("host")),
      s"every schedule window must partition by host:\n$plan")
    assert(!plan.contains("Sort [slot"),
      s"the (slot, host) pair IS the fetch order — no global sort:\n$plan")
  }

  test("robots enforcement broadcasts the rule table onto the frontier") {
    val plan = planOf("clean_robots_filter")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"the per-host rule table must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the frontier must never sort-merge against the tiny rule side:\n$plan")
  }

  test("CDC windows partition by document — never a global window") {
    val plan = planOf("dedup_cdc_chunks")
    val windowLines = plan.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.forall(_.contains("doc_id")),
      s"every CDC window must partition by doc_id:\n$plan")
  }

  test("partitioned read-back prunes to the lang=en directory") {
    val plan = planOf("io_partitioned_roundtrip")
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"the lang predicate must prune partitions at the scan:\n$plan")
    assert(!plan.contains("PushedFilters: [IsNotNull(lang)"),
      s"lang should be a partition column, not a data filter:\n$plan")
  }

  test("gap fill generates each key's grid — never a calendar join, never a cross product") {
    val plan = planOf("events_gapfill")
    assert(plan.contains("Generate explode(sequence"),
      s"the dense grid must come from a per-key sequence generator:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"grid × observations must stay a keyed join:\n$plan")
  }

  test("phrase match broadcasts the phrase terms; postings ride a hash join") {
    val plan = planOf("text_phrase_match")
    assert(plan.contains("BroadcastHashJoin"),
      s"the phrase-terms side must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"postings must never cross-join the phrase set:\n$plan")
  }

  test("multitouch credit: interval pairs ride keyed joins, windows bounded by purchase") {
    val plan = planOf("events_multitouch_credit")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the purchase×click interval join must key on user_id:\n$plan")
    assert(plan.contains("windowspecdefinition(purchase_id#"),
      s"credit windows must partition by purchase:\n$plan")
  }

  test("time-travel snapshot resolves via a per-key window — no self-join, no log replay") {
    val plan = planOf("io_time_travel")
    assert(plan.contains("Window"),
      s"latest-wins must be a version-argmax window:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("HashJoin"),
      s"snapshot reads must not join the store against itself:\n$plan")
  }

  test("dim-filtered star join prunes fact partitions DYNAMICALLY") {
    val plan = planOf("join_dpp_pruned")
    assert(plan.toLowerCase.contains("dynamicpruningexpression"),
      s"the broadcast dim result must reach the fact scan's PartitionFilters " +
        s"as a DynamicPruningExpression:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the language dim must broadcast:\n$plan")
  }

  test("filtered IVF search reads only the probed list partitions; the predicate prunes inside them") {
    val plan = planOf("knn_filtered_ivf")
    // (1) only probed partitions are read: the probes' list_ids reach the
    // stored layout's scan as a DynamicPruningExpression on the list_id
    // partition column (broadcast-reuse DPP off the probe join)
    val scanLine = plan.linesIterator.find(l =>
      l.contains("PartitionFilters") && l.contains("list_id"))
    assert(scanLine.exists(_.toLowerCase.contains("dynamicpruningexpression")),
      s"the probed list_ids must prune the stored scan's partitions dynamically:\n$plan")
    assert(plan.contains("graft_ivfidx"),
      s"the search must read the STORED layout, not re-assign the corpus:\n$plan")
    // (2) the metadata predicate applies at the scan stage (a Filter over
    // label inside the probed partitions), never after the ranking
    assert(plan.contains("(label"),
      s"the label predicate must prune rows before distance work:\n$plan")
    // (3) the probe side broadcasts; the corpus is never sort-merged
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      s"probed candidates must ride a broadcast hash join:\n$plan")
  }

  test("delete-aware IVF search keeps DPP partition pruning; tombstones ride a broadcast anti-join") {
    val plan = planOf("knn_deleted_ivf")
    // (1) the tombstone anti-join must NOT sit between the partitioned
    // scan and the probe join — the probes' list_ids still reach the
    // stored scan as a DynamicPruningExpression (the placement argument
    // in IvfIndex.search's scaladoc)
    val scanLine = plan.linesIterator.find(l =>
      l.contains("PartitionFilters") && l.contains("list_id"))
    assert(scanLine.exists(_.toLowerCase.contains("dynamicpruningexpression")),
      s"the probed list_ids must prune the stored scan's partitions dynamically:\n$plan")
    assert(plan.contains("graft_ivfidx"),
      s"the search must read the STORED layout:\n$plan")
    // (2) deleted rows drop via a broadcast ANTI-join over the candidate
    // stream — before distance work, never a sort-merge of the corpus
    assert(plan.contains("LeftAnti"),
      s"tombstone exclusion must be an anti-join:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      s"the compact-bounded tombstone side must broadcast:\n$plan")
  }

  test("filtered IVFADC reads only the probed code partitions; the predicate prunes at the codes scan") {
    val plan = planOf("knn_filtered_ivfpq")
    // (1) the probes' list_ids prune the stored codes table's partitions
    // dynamically, exactly like the plain-IVF filtered tier
    val scanLine = plan.linesIterator.find(l =>
      l.contains("PartitionFilters") && l.contains("list_id"))
    assert(scanLine.exists(_.toLowerCase.contains("dynamicpruningexpression")),
      s"the probed list_ids must prune the codes scan's partitions dynamically:\n$plan")
    assert(plan.contains("graft_pqidx"),
      s"the search must read the STORED codes layout, not re-encode the corpus:\n$plan")
    // (2) the metadata predicate lands at the scan — rows are pruned
    // BEFORE any ADC lookup, never after the ranking
    assert(plan.contains("(label"),
      s"the label predicate must prune rows before the ADC lookups:\n$plan")
    // (3) probes broadcast onto the codes scan; nothing sort-merges
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      s"probed candidates must ride a broadcast hash join:\n$plan")
  }

  test("delete-aware IVFADC keeps DPP on the codes scan; tombstones anti-join before ADC") {
    val plan = planOf("knn_deleted_ivfpq")
    val scanLine = plan.linesIterator.find(l =>
      l.contains("PartitionFilters") && l.contains("list_id"))
    assert(scanLine.exists(_.toLowerCase.contains("dynamicpruningexpression")),
      s"the probed list_ids must still prune the codes scan's partitions dynamically:\n$plan")
    assert(plan.contains("graft_pqidx"),
      s"the search must read the STORED codes layout:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"tombstone exclusion must be an anti-join:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      s"the compact-bounded tombstone side must broadcast:\n$plan")
  }

  test("delete-aware dedup keeps the O(delta) index-probe shape; dead docs anti-join the stored prefix table") {
    val plan = planOf("dedup_jaccard_deleted")
    assert(plan.contains("graft_jidx_prefix_"),
      s"the candidate join must still probe the persisted prefix table:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"tombstone exclusion must be an anti-join on the prefix side:\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"index probes must keep the bucketed layout:\n$plan")
    // O(delta): every raw documents scan is the delta slice — the
    // tombstone set comes from its own side store, never a corpus rescan
    val unfiltered = plan.linesIterator
      .filter(_.contains("documents.parquet")).filterNot(_.contains("% 10"))
    assert(unfiltered.isEmpty,
      s"only the delta may scan the raw documents table:\n$plan")
  }

  test("filtered stored-LSH search reads the predicate-free index; the predicate prunes at the vector scan") {
    val plan = planOf("knn_filtered_lsh")
    // (1) the search probes the STORED bucket table (one predicate-free
    // layout serves every filter), never re-bucketizes the corpus
    assert(plan.contains("graft_lshidx"),
      s"the search must read the STORED bucket layout:\n$plan")
    // (2) the metadata predicate lands at the corpus VECTOR scan — bucket
    // candidates failing it drop before any distance work, never after
    // the ranking
    assert(plan.contains("(label"),
      s"the label predicate must prune rows before distance work:\n$plan")
    // (3) candidates stay bucket-bounded: keyed joins only
    assert(!plan.contains("CartesianProduct"),
      s"bucket-collision candidates must ride keyed joins, never a cross product:\n$plan")
  }

  test("late-interaction rerank: the bounded token matrix rides broadcast equi-joins only") {
    val plan = planOf("hybrid_maxsim_rerank").split("== Initial Plan ==").head
    // the BM25 candidate leg keeps its documented 1-row NLJ attaches
    // (avgdl/N); the rerank stage itself must add keyed joins only
    assert(!plan.contains("CartesianProduct"),
      s"the MaxSim matrix must expand through keyed joins, never a cross product:\n$plan")
    // every rerank-side join (token prefixes × token vectors × candidate
    // pairs) is bounded and must broadcast, never sort-merge
    val smj = plan.linesIterator.filter(_.contains("SortMergeJoin")).toSeq
    assert(smj.isEmpty,
      s"bounded token joins should broadcast, never sort-merge: $smj\n$plan")
  }

  test("stored-walk twins rank by broadcasting the bounded visited set onto the corpus scan") {
    for (qn <- Seq("knn_graph_stored_topk", "knn_graph_filtered_topk")) {
      val plan = planOf(qn).split("== Initial Plan ==").head
      assert(!plan.contains("SortMergeJoin"),
        s"$qn: the visited-set join must never sort-merge the corpus:\n$plan")
      assert(plan.contains("BroadcastHashJoin"),
        s"$qn: the bounded visited set must broadcast:\n$plan")
    }
  }

  test("whitening is a broadcast-literal scan — no shuffle, no join") {
    val plan = planOf("embed_whiten_checksum")
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"the standardize pass must be one narrow scan over literal stats:\n$plan")
  }

  test("basket pairs self-join keys on the order id — never a cross product") {
    val plan = planOf("rel_basket_pairs").split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct"),
      s"pair expansion must ride the order-id equi-join:\n$plan")
    // the only nested-loop join allowed is the documented 1-row total
    // attach (broadcast of the order-count aggregate)
    val nlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(nlj <= 1, s"only the 1-row n attach may nested-loop ($nlj found):\n$plan")
    val pairJoin = plan.linesIterator.find(l =>
      l.contains("Join") && l.contains("__o") && !l.contains("NestedLoop"))
    assert(pairJoin.isDefined, s"pair join should equi-key on the order id:\n$plan")
  }

  test("PCA projection is scan-only; census shuffles d² cells not the corpus") {
    val plan = planOf("embed_pca_project")
    // the projection query's plan = scan + project with a literal axis; the
    // census was collected at build time in a separate bounded job
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"axis projection must be one narrow scan:\n$plan")
    val census = planOf("profile_embedding_cov")
    assert(census.contains("HashAggregate"),
      s"census should be a keyed aggregation (map-side partials onto d² cells):\n$census")
    assert(!census.contains("Join"),
      s"the pair expansion must be a per-row HOF, never a self-join:\n$census")
  }

  test("triangle census wedges ride equi-joins — never a cross product") {
    val plan = planOf("rank_knn_triangles").split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct"),
      s"wedge expansion must equi-join on the apex node:\n$plan")
    // the only nested-loop joins allowed are the 1-row summary attaches
    // (edge count × wedge count × triangle count cross of three 1-row aggs)
    val nlj = plan.linesIterator.count(l =>
      l.contains("BroadcastNestedLoopJoin") || l.contains("CartesianProduct"))
    assert(nlj <= 2, s"only the 1-row summary attaches may nested-loop ($nlj):\n$plan")
  }

  test("hierarchical walk never cross-products; hop work rides equi/anti joins") {
    val plan = planOf("knn_graph_hier_topk").split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct"),
      s"the walk must expand via keyed joins only:\n$plan")
    // the sole nested-loop join allowed is the 1-row broadcast entry
    // attach of the UPPER walk (the lower walk enters from per-query
    // entries, a keyed frame)
    val nlj = plan.linesIterator.count(l => l.contains("BroadcastNestedLoopJoin"))
    assert(nlj <= 1, s"only the 1-row entry attach may nested-loop ($nlj):\n$plan")
  }

  test("OPQ permutation is applied as a pure projection; ADC side scans codes") {
    val plan = planOf("pq_opq_recall").split("== Initial Plan ==").head
    // the permutation is a literal 64-wide element_at projection — it must
    // not introduce a join or extra exchange on the encode path; the only
    // joins are the ADC/eval legs' keyed joins and bounded summary attaches
    assert(!plan.contains("CartesianProduct"),
      s"permutation/encode must never cross-product:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"ADC search must broadcast, never sort-merge the corpus:\n$plan")
  }

  test("correlated subqueries decorrelate to keyed joins — never per-row re-execution") {
    val q17 = planOf("rel_small_quantity_revenue").split("== Initial Plan ==").head
    assert(!q17.contains("CartesianProduct"),
      s"the scalar subqueries must decorrelate to aggregate+join:\n$q17")
    assert(q17.contains("HashAggregate"),
      s"the per-part threshold should be a keyed aggregate:\n$q17")
    val q21 = planOf("rel_waiting_orders").split("== Initial Plan ==").head
    assert(q21.contains("LeftAnti") || q21.contains("ExistenceJoin") ||
      q21.contains("LeftSemi"),
      s"EXISTS/NOT EXISTS should become semi/anti joins:\n$q21")
    assert(!q21.contains("CartesianProduct"),
      s"the doubly-correlated NOT EXISTS must stay keyed:\n$q21")
  }

  test("WET roundtrip reads through the splittable text source") {
    val plan = planOf("io_wet_roundtrip")
    assert(plan.contains("FileScan text") || plan.contains("FileScan Text")
      || plan.contains("text "),
      s"record assembly should ride the text file source:\n$plan")
    assert(!plan.contains("Join"),
      s"the census is one narrow aggregation over the records:\n$plan")
  }

  test("winnowing selects inside per-doc windows; the pair census joins on the fingerprint key") {
    val census = planOf("dedup_winnow_census")
    assert(!census.contains("CartesianProduct") && !census.contains("BroadcastNestedLoopJoin"),
      s"winnow census must stay keyed:\n$census")
    val pairs = planOf("dedup_winnow_pairs")
    assert(pairs.contains("HashJoin") || pairs.contains("SortMergeJoin"),
      s"pair census should equi-join on fp_hash:\n$pairs")
    assert(!pairs.contains("CartesianProduct") && !pairs.contains("BroadcastNestedLoopJoin"),
      s"pair census must never go all-pairs:\n$pairs")
  }

  test("TextRank builds edges with array zips — no join before the pair distinct") {
    val plan = planOf("text_textrank_keywords")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"co-occurrence extraction must stay narrow:\n$plan")
  }

  test("link prediction and HITS stay keyed on the graph, never all-pairs over nodes") {
    for (q <- Seq("rank_knn_link_pred", "rank_knn_hits")) {
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"),
        s"$q must not cross-product (1-row broadcast attaches aside):\n$plan")
    }
  }

  test("IVM merge reads the stored partials, never the base fact slice") {
    val plan = planOf("agg_incremental_merge")
    assert(plan.contains("graft_ivm"), s"merge should scan the persisted state:\n$plan")
    // the only lineitem scan allowed is the DELTA slice (pushed % filter)
    assert(plan.contains("PushedFilters") || plan.contains("lineitem"),
      s"delta side should scan lineitem with its filter:\n$plan")
  }

  test("session overlap rides the bucketed equi-join (no NLJ range join)") {
    val plan = planOf("events_session_overlap")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"interval join must stay bucketed:\n$plan")
  }

  test("exact-kmeans: literal-centroid assignment, k·d-cell shuffle only") {
    val census = planOf("embed_kmeans_census").split("== Initial Plan ==").head
    // the assignment is a literal projection — the corpus must never join
    // or cross against a centroid table; the only join is the k-row
    // checksum broadcast attach
    assert(!census.contains("CartesianProduct") && !census.contains("SortMergeJoin"),
      s"kmeans census must not sort-merge or cross-product the corpus:\n$census")
    val balanced = planOf("sample_cluster_balanced")
    assert(!balanced.contains("Join"),
      s"the balanced sample is one assignment scan + window + agg, no join:\n$balanced")
  }

  test("cross-encoder rerank touches candidates through keyed joins only") {
    val plan = planOf("hybrid_rerank_topk").split("== Initial Plan ==").head
    // the dense first-stage leg is the documented brute exact twin (one
    // NLJ); the rerank stage itself must add keyed joins only
    assert(!plan.contains("CartesianProduct"),
      s"rerank must never cross-product:\n$plan")
    // the RRF fusion's full-outer join of two |Q|·k lists is structurally
    // sort-merge (Spark has no broadcast full-outer) and is fine — the
    // guard is that NO corpus-sized frame sort-merges: every other join
    // (pair terms × tf/idf) must broadcast the bounded candidate side
    val smj = plan.linesIterator.filter(_.contains("SortMergeJoin"))
      .filterNot(_.contains("FullOuter")).toSeq
    assert(smj.isEmpty,
      s"candidate-bounded joins should broadcast, never sort-merge: $smj\n$plan")
  }
}
