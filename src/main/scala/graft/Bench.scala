package graft
import java.util.Locale
import org.apache.spark.sql.SparkSession
object Bench {
  // Locale-pinned formatting: f"%.3f" follows the default locale, and a
  // comma decimal separator (de_DE etc.) would emit invalid JSON.
  private def fmt(v: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(v))
  /** Upper median (deterministic for even n) of the measured/sample
    * ratios — the run's own like-for-like drift reading; 1.0 when no
    * unfloored budgeted query ran. */
  private[graft] def driftMedian(ratios: Seq[Double]): Double =
    if (ratios.isEmpty) 1.0 else ratios.sorted.apply(ratios.size / 2)
  /** The adjudication rule for a provisional breach after the isolated
    * re-measure: the breach STANDS when the adjudicated time `iso` still
    * exceeds the scaled budget — and unconditionally when `iso` < 0, the
    * sentinel for a rerun that FAILED (threw) rather than ran (r10
    * verdict "what's wrong" #3: a crash must not masquerade as a fast
    * rerun and silently clear the breach; the failure is surfaced as -1
    * in the headline's `isolated_reruns` record). Since round 13 the
    * rerun is COLD (see the call site): every breached query reaches it,
    * producers included. */
  private[graft] def breachStands(scaledBudget: Double, iso: Double): Boolean =
    iso < 0 || iso > scaledBudget
  /** Drift-outlier rerun policy (r14 verdict "next round" #1): the r14
    * record carried six rows elevated 2.0–2.7× over their budget samples
    * on unchanged source that sat UNDER their budgets, so the breach-only
    * rerun trigger never adjudicated them — the record could not
    * self-explain its worst sub-budget drift. Beyond the breach
    * candidates, the top [[DriftRerunK]] rows by measured/(sample ×
    * factor) ratio above [[DriftRerunMin]] get the same cold solo rerun,
    * emitted under `drift_reruns` — data where the verdicts previously
    * had to argue from shape. Purely diagnostic: a drift rerun never
    * creates or clears a breach. */
  private[graft] val DriftRerunK = 5
  private[graft] val DriftRerunMin = 1.5
  /** The drift-rerun candidate list: unfloored budgeted queries not
    * already breach-rerun, ratio = measured / (sample × factor), top K
    * above the floor, worst first. */
  private[graft] def driftCandidates(results: Seq[(String, Double)],
      sampleSec: Map[String, Double], effFactor: Double,
      exclude: Set[String]): Seq[(String, Double, Double)] =
    results
      .filterNot { case (n, _) => exclude.contains(n) }
      .flatMap { case (n, t) =>
        sampleSec.get(n).map(s => (n, t, t / (s * effFactor))) }
      .filter(_._3 > DriftRerunMin)
      .sortBy(-_._3)
      .take(DriftRerunK)
  /** The producer list (measured first, in declared order — chains like
    * rank_knn_degree_hist → eval_graph_recall depend on it). Since the
    * round-13 cold-rerun fix this list is ORDERING + attribution only —
    * it no longer exempts anyone from breach adjudication. Per-query
    * rationale is documented at the ordering site in [[main]]. */
  private[graft] val producers = Seq("embed_hash_tf", "join_bucketed_build",
    "dedup_jaccard_index_build", "dedup_jaccard_pairs", "lsh_index_build",
    "ivf_index_build", "pq_index_build", "pq_train_build", "dedup_span_index_build",
    "select_dsir_sample", "select_dsir_weights", "hybrid_bm25_topk",
    "text_bpe_merges", "rank_knn_degree_hist", "eval_graph_recall",
    "graph_index_append", "graph_walk_build", "ivf_auto_probe")
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tuning(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // UTC like Verify/tests: the NTZ→LTZ normalization in Tables.events
      // must mean the same instants wherever timings run.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM/codegen/parquet-reader paths once at the smallest SF so
    // the first measured query doesn't absorb cluster start-up cost.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    // SPARK_GRAFT_ONLY=a,b,c restricts the run (single-query timing loops).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // JMH-style warm-up iteration: run every query once at the smallest SF
    // (SPARK_GRAFT_WARM_DIR, empty to disable) so the JIT and the parquet
    // readers are warm before the measured window — without it the
    // alphabetically-first query touching each table absorbs that one-time
    // cost. It does NOT keep each query's generated classes compiled: one
    // board run generates ~4,800 distinct classes, more than Tuning's
    // 1000-entry codegen cache holds (and far more than Spark's default of
    // 100), so by the time the measured pass reaches a query the rest of
    // the board has evicted the classes its warm-up compiled, unless later
    // queries reused them. Different directory ⇒ different plans, so
    // nothing the measured pass reads is pre-materialized; warm-up caches
    // are released.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if (warmDir.nonEmpty) {
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => only.forall(_.contains(n)) }
        .foreach { case (_, fn) =>
          try { fn(spark, warmDir).count() } catch { case _: Throwable => } }
      Caches.clear()
      // with the registry empty, the sweep frees every warm-up checkpoint
      Caches.sweepCheckpoints(spark.sparkContext)
    }
    // Producers-first ordering: queries that materialize a shared input run
    // before the queries that read it, so each measurement reflects its own
    // operator — embed_hash_tf (the embedder's query) builds the document-
    // embedding cache the dedup_embed_* consumers look up, and the two
    // layout/index builders run their one-time DDL before the queries that
    // read the stored layout, instead of the alphabetically-first consumer
    // absorbing that build.
    // dedup_jaccard_pairs is the jaccard family's index builder: it
    // materializes the shared token-hash/shingle/docset caches that
    // dedup_clusters (alphabetically first otherwise) would absorb.
    // select_dsir_sample/select_dsir_weights are the DSIR family's
    // producers: they materialize the shared pool feature-count cache so
    // pipeline_dsir_select times the COMPOSITION, not the one-time DSIR
    // model build it used to absorb as the family's alphabetically-first
    // row (34.8 s vs its 21 s budget in the r6 driver record).
    // hybrid_bm25_topk IS the BM25 leg the two fusion queries consume
    // (Caches-shared at the leg level) — running it first makes the fusion
    // rows time fusion, not the leg build.
    // text_bpe_merges IS the BPE trainer whose memoized merge table
    // text_bpe_encode (alphabetically first otherwise) consumes.
    // rank_knn_degree_hist (edge build) then eval_graph_recall (walk
    // build) became explicit producers when the graph-ANN rows landed:
    // eval_graph_recall sorts before the edge producer alphabetically and
    // would otherwise absorb the one-time O(n²) edge build its walk
    // probes; knn_graph_topk then times ranking only.
    // graph_index_append IS the stored-graph layout's build+append
    // (GraphLayout.ensure) — without it eval_graph_stored_recall
    // (alphabetically first among the layout's readers) absorbs the
    // one-time DDL.
    // pq_train_build IS the two Lloyd/KMeans trained-quantizer fits
    // (IndexQueries.trainedPqModel/trainedIvfModel) that pq_kmeans_recall
    // and ivfpq_kmeans_recall consume — without it ivfpq_kmeans_recall
    // (alphabetically first among the consumers) absorbed both trainings
    // and was the r9 record's worst breach (56.8 s vs a 25 s envelope).
    // ivf_auto_probe is the probe-curve family's producer: it is
    // alphabetically first among probeCurveFrame's consumers, so it pays
    // the memoized 3-point curve build that ivf_probe_curve then reads —
    // declared so the attribution is explicit and the row is budgeted as
    // a build (r9 verdict "what's wrong" #3).
    val producers = Bench.producers
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Producers run in DECLARED order (not alphabetical): chains like
    // rank_knn_degree_hist (edge build) → eval_graph_recall (walk build)
    // depend on it.
    val ordered = producers.flatMap(p => selected.find(_._1 == p)) ++
      selected.filterNot(q => producers.contains(q._1))
    // Machine calibration: a fixed synthetic workload (no data dependence)
    // timed on THIS box right before the measured pass. Two legs so the
    // factor sees both resources the board leans on: (a) CPU + shuffle (a
    // 40M-row hash aggregate) and (b) block-manager IO — a ~100 MB
    // localCheckpoint write + full re-read, the cost shape of the
    // checkpoint-heavy iterative families (walks, CC, MMR), which the r7
    // CPU-only factor was blind to while exactly that class breached.
    // Budgets are recorded as 2.5x clean-box samples; the breach check
    // scales them by calib/CalibRef (clamped to [1, 3]) so a loaded or
    // slower machine doesn't turn scheduler noise into "breaches" — and a
    // normal machine keeps the tight budgets (the r6 advice: don't size
    // hard gates to the slowest observed box).
    import org.apache.spark.sql.functions.{col, lit, pmod, sum, xxhash64}
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 40000000L, 1L, cpus.toInt)
        .select(xxhash64(col("id")).as("h"))
        .groupBy(pmod(col("h"), lit(1024L)).as("g"))
        .agg(sum(col("h")).as("s"))
        .count()
      val ck = spark.range(0L, 6000000L, 1L, cpus.toInt)
        .select(col("id"), xxhash64(col("id")).as("h"))
        .localCheckpoint() // eager: times the block-manager write
      ck.agg(sum(col("h"))).count() // times the read-back
      val dt = (System.nanoTime() - t0) / 1e9
      Caches.sweepCheckpoints(spark.sparkContext) // free the calib blocks
      dt
    }
    calibOnce() // warm the calibration plan's codegen
    val calib = math.min(calibOnce(), calibOnce())
    val factor = math.min(3.0, math.max(1.0, calib / Budgets.CalibRef))
    // Per-query attribution of memoized state (r12 verdict "next round"
    // #1/#2): bracket each measured query with registry watermarks so the
    // breach rerun can later drop EXACTLY the Caches/Layouts entries that
    // query's measured pass created — its own builds go cold, everything
    // it inherited from earlier queries stays warm, i.e. the rerun replays
    // the cache state the measurement saw instead of a universally-warm
    // session (which measured ~0 s for producers and lazily-memoized
    // consumers, making their breaches structurally unadjudicable).
    val created = scala.collection.mutable.Map
      .empty[String, (Caches.Entries, Seq[(SparkSession, String)])]
    val results = ordered.map { case (name, fn) =>
      val cm = Caches.mark(); val lm = Layouts.mark()
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
      val dt = (System.nanoTime() - t0) / 1e9
      created(name) = (Caches.createdSince(cm), Layouts.createdSince(lm))
      // Between queries (outside the timed window): free dead checkpoint
      // blocks — per-hop/per-round frames of the query that just ran —
      // so storage doesn't accumulate across 220+ queries and squeeze
      // later families (the r7 breach mechanism). Memo-shared frames'
      // checkpoints are protected via the registry.
      Caches.sweepCheckpoints(spark.sparkContext)
      name -> dt
    }
    // NOTE: Caches.clear() sits BELOW the isolated re-measure block — a
    // rerun must see warm everything it INHERITED in the measured pass
    // (only the entries the query itself created are dropped, above).
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    // Measured-drift fallback (r8 verdict "next round" #1c): the synthetic
    // calibration can under-read a slow driver box — the r8 record ran the
    // whole board 1.15-1.3x slower than the budget samples while the
    // synthetic factor read 1.058, and four healthy plans "breached". The
    // run's own like-for-like evidence is the direct reading of the same
    // drift: the median ratio of measured time to the budget sample
    // (budget / 2.5, Budgets.sampleSec) over every UNFLOORED budgeted
    // query this run executed. When that exceeds the synthetic factor,
    // the larger applies (clamped to the same [1, 3]). A median over
    // dozens of unrelated queries is robust to any one plan regression —
    // a broken query still breaches, because hiding would require slowing
    // the MAJORITY of the board, at which point the box IS slow.
    // The fallback needs a POPULATION to be evidence of box drift rather
    // than a self-excusal: in a SPARK_GRAFT_ONLY subset run the "median"
    // would be the regressed query's own ratio, raising its own envelope.
    // Below MinDriftQueries unfloored samples the synthetic factor stands
    // alone (the full board carries ~68). A board-WIDE code regression can
    // still hide under the fallback's [1,3] clamp — accepted by design:
    // that signal is indistinguishable from a slow box from inside one
    // run, and the round-over-round total in BENCH_r{N} is what catches
    // it.
    val ratios = results.flatMap { case (n, t) =>
      Budgets.sampleSec.get(n).map(t / _) }
    val MinDriftQueries = 20
    val drift = if (ratios.size >= MinDriftQueries) driftMedian(ratios) else 1.0
    val effFactor = math.max(factor, math.min(3.0, drift))
    // Budget check (sf0.1 budgets — only meaningful at the driver's SF).
    val provisional = results.filter { case (n, t) =>
      Budgets.perQuery.get(n).exists(t > _ * effFactor) }
    // Isolated end-of-run COLD re-measure (r9 verdict "next round" #1; made
    // cold by r12 "next round" #1/#2): a query over budget in the measured
    // pass is re-run ONCE, alone, after the whole board — the breach stands
    // only if the solo rerun also exceeds its envelope. This automates the
    // load-artifact adjudication the r7-r9 verdicts performed by hand: the
    // r9 breach tail was exactly the many-sequential-jobs queries whose
    // fixed per-job scheduling latency multiplies 2-6x under transient box
    // load while single-stage queries ride at ~1.0x — a bimodal drift no
    // global factor covers.
    // COLD means: before the rerun, drop exactly the Caches/Layouts entries
    // the query's measured pass created (the `created` bracket above), so
    // the rerun replays the SAME cache state the measurement saw — its own
    // memoized builds rebuild, everything inherited from earlier queries
    // stays warm. This replaces the r10 producer-skip rule, which made a
    // load spike landing on a producer an unappealable breach (the rerun
    // would hit its own warm memo and measure ~0 s, so producers never got
    // a rerun and their measured time stood — all four r12 breaches were
    // exactly this), and it closes the lenient mirror image for
    // lazily-memoized consumers (eval_graph_hier_recall's rerun used to
    // run against a warm hier-walk memo forever, which would also have
    // hidden a REAL build regression forever). A genuine plan regression
    // re-runs just as slow cold and still breaches; both times are recorded
    // in the headline so the adjudication is auditable. A rerun that THROWS
    // records the -1 failure sentinel and the breach stands (breachStands —
    // a crash must not clear a breach).
    def coldRerun(n: String): Double = {
      created.get(n).foreach { case (ce, le) =>
        Caches.invalidate(ce)
        Layouts.invalidate(le)
        // the dropped frames' localCheckpoint blocks are dead now — free
        // them so the rerun doesn't pay their storage pressure either
        Caches.sweepCheckpoints(spark.sparkContext)
      }
      val t0 = System.nanoTime()
      val ok = try { SparkEntry.queries(n)(spark, sfDir).count(); true }
        catch { case _: Throwable => false }
      val dt = (System.nanoTime() - t0) / 1e9
      Caches.sweepCheckpoints(spark.sparkContext)
      if (ok) dt else -1.0
    }
    val isolated = provisional.map { case (n, t) => (n, t, coldRerun(n)) }
    // Drift-outlier cold reruns (see [[driftCandidates]]): the worst
    // sub-budget elevations vs the budget samples get the SAME cold solo
    // re-measure, so a loaded record adjudicates its drift tail with data
    // instead of leaving it to shape arguments. Diagnostic only — never
    // part of the breach list.
    val driftIso = driftCandidates(results, Budgets.sampleSec, effFactor,
      provisional.map(_._1).toSet).map { case (n, t, _) => (n, t, coldRerun(n)) }
    // JSON shape: {"name":[measured_sec, adjudicated_sec]} — adjudicated
    // is the COLD solo rerun's time, or -1 for a failed rerun.
    def rerunJson(rs: Seq[(String, Double, Double)]): String =
      rs.map { case (n, m, i) =>
        "\"" + n + "\":[" + fmt(m) + "," + fmt(i) + "]" }.mkString("{", ",", "}")
    val isoJson = rerunJson(isolated)
    val driftJson = rerunJson(driftIso)
    val breaches = isolated.collect {
      case (n, _, iso) if Budgets.perQuery.get(n)
        .exists(b => Bench.breachStands(b * effFactor, iso)) => "\"" + n + "\""
    }.mkString("[", ",", "]")
    Caches.clear() // release operator-internal caches registered during the run
    Caches.sweepCheckpoints(spark.sparkContext)
    // Per-query detail first, compact headline LAST: the round driver
    // captures the TAIL of stdout, and in r5 the long per-query map pushed
    // the headline (total + budget_breaches) out of the record
    // (BENCH_r05.json parsed: null). The last line must always be the one
    // the driver parses.
    println(s"""{"metric":"per_query","unit":"sec","queries":$qs}""")
    // Durable full record (r12 lesson: the round driver captures only the
    // TAIL of stdout, and r12's ~3.5 KB window truncated the first 53
    // compact per-query entries — the verdict had to reconstruct them by
    // suffix alignment). The same three JSON lines land in a repo file the
    // driver's end-of-round commit picks up, so the full per-query record
    // survives whatever stdout keeps. Best-effort: a read-only or foreign
    // cwd must not fail the bench.
    def writeRecord(totalLine: String): Unit =
      try {
        // resolve against THIS checkout (cwd, or an explicit override) —
        // a hardcoded absolute path would overwrite a foreign repo's
        // record when the bench runs from another checkout on a machine
        // where that path exists
        val dir = sys.props.getOrElse("graft.bench.recordDir",
          sys.props.getOrElse("user.dir", "."))
        val p = java.nio.file.Paths.get(dir, "BENCH_FULL_LAST.json")
        if (java.nio.file.Files.isDirectory(p.getParent)) {
          val lines = Seq(
            s"""{"metric":"per_query","unit":"sec","queries":$qs}""",
            totalLine)
          java.nio.file.Files.write(p,
            lines.mkString("", "\n", "\n").getBytes("UTF-8"))
        }
      } catch { case _: Throwable => }
    // Compact duplicate of the per-query record (r8 verdict missing #3:
    // the ~3.5 KB tail the driver keeps truncated all but 64 of 287 names
    // from the map above). Entry i is the i-th query in ALPHABETICAL
    // order over this run's query names — the keys of the full map, which
    // any SparkEntry.queries listing reproduces — so ~1.6 KB carries all
    // 287 times inside the captured tail.
    val msAlpha = results.sortBy(_._1).map { case (_, t) => math.round(t * 1000) }
    // names_md5 (r9 advice): an integrity anchor over the exact name
    // universe the ms array was written against — md5 of the sorted names
    // joined by "," — so a consumer reconstructing names (e.g. after a
    // SPARK_GRAFT_ONLY run, whose universe differs from the full board)
    // can VERIFY its pairing instead of trusting `n` alone.
    val namesMd5 = Layouts.md5Hex(results.map(_._1).sorted.mkString(","))
    println(s"""{"metric":"per_query_ms_alpha","keys":"this run's query names, sorted","n":${results.size},"names_md5":"$namesMd5","ms":[${msAlpha.mkString(",")}]}""")
    val totalLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","n_queries":${results.size},"calib_sec":${fmt(calib)},"budget_factor":${fmt(factor)},"drift_median":${fmt(drift)},"effective_factor":${fmt(effFactor)},"isolated_reruns":$isoJson,"drift_reruns":$driftJson,"budget_breaches":$breaches}"""
    writeRecord(totalLine)
    println(totalLine)
    spark.stop()
  }
}
