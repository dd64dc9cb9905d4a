package graft

import org.apache.spark.sql.functions._
import graft.operators.{GraphSearch, PageRank}

/** Stored-graph lifecycle guards: fingerprint enforcement on append, and
  * walk determinism (the property the oracle replay stands on). */
class GraphSearchSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def corpus = {
    import graft.io.Tables
    Tables.embeddings(spark, dir).limit(60)
      .select(col("vec_id").as("skill_id"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("svec"))
  }

  test("probe-ALL IVF edge build degrades to the exact brute construction") {
    // nProbe = lists ⇒ every node's candidate set is the full corpus minus
    // itself — the ANN build must then equal the brute oracle twin edge
    // for edge (the IvfIndex "probes=lists degrades to exact" identity,
    // graph-build form).
    val model = graft.operators.IvfIndex.fitSeeds(corpus, "skill_id", "svec", 4)
    val ann = GraphSearch.ivfCandidateEdges(corpus, "skill_id", "svec", 3,
        model, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = PageRank.directedKnnEdges(corpus, "skill_id", "svec", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ann == brute)
  }

  test("probe-pruned edges stay inside each source's probed lists") {
    import graft.operators.IvfIndex
    import graft.functions.VectorFunctions.Cosine
    val model = IvfIndex.fitSeeds(corpus, "skill_id", "svec", 4)
    val edges = GraphSearch.ivfCandidateEdges(corpus, "skill_id", "svec", 3,
      model, nProbe = 2)
    // recompute the probe/assign frames and anti-join: an edge whose dst
    // lives outside its src's probed lists cannot exist
    val probes = IvfIndex.probeAssign(
      corpus.select(col("skill_id").as("src"), col("svec").as("__v")),
      "__v", model, 2, Cosine).select("src", "list_id")
    val asg = IvfIndex.assign(
      corpus.select(col("skill_id").as("dst"), col("svec").as("__v")),
      "dst", "__v", model, Cosine).select("dst", "list_id")
    val escaped = edges.join(
      probes.join(asg, "list_id").select("src", "dst"),
      Seq("src", "dst"), "left_anti")
    assert(escaped.isEmpty)
    // and per-src degree is exactly k (candidate pools ≫ k here)
    val degs = edges.groupBy("src").count().select("count")
      .collect().map(_.getLong(0)).toSet
    assert(degs == Set(3L))
  }

  test("beam-insert append: fingerprint enforced, delta edges land, base untouched") {
    import graft.operators.IvfIndex
    val tag = s"gs_${System.nanoTime()}"
    val ids = corpus.orderBy("skill_id").select("skill_id")
      .collect().map(_.getLong(0))
    val cut = ids(54)
    val base = corpus.filter(col("skill_id") <= cut)   // 55 nodes
    val delta = corpus.filter(col("skill_id") > cut)   // 5 disjoint nodes
    val model = IvfIndex.fitSeeds(base, "skill_id", "svec", 4)
    GraphSearch.writeIndexIvf(base, "skill_id", "svec", 3, model, 2,
      s"graft_test_$tag", s"/tmp/graft_test_graph/$tag", 4)
    val baseCount = spark.table(s"graft_test_$tag").count()
    // a different degree or probe width is a different graph — rejected
    val exK = intercept[IllegalArgumentException] {
      GraphSearch.appendToIndexBeam(delta, base, "skill_id", "svec", 4,
        model, 2, s"graft_test_$tag", 4, hops = 3, beam = 4)
    }
    assert(exK.getMessage.contains("fingerprint"))
    val exP = intercept[IllegalArgumentException] {
      GraphSearch.appendToIndexBeam(delta, base, "skill_id", "svec", 3,
        model, 3, s"graft_test_$tag", 4, hops = 3, beam = 4)
    }
    assert(exP.getMessage.contains("fingerprint"))
    // matching config appends cleanly: k edges per delta node, all into
    // the base (the insert walk can only visit indexed nodes), no self
    GraphSearch.appendToIndexBeam(delta, base, "skill_id", "svec", 3,
      model, 2, s"graft_test_$tag", 4, hops = 3, beam = 4)
    val t = spark.table(s"graft_test_$tag")
    assert(t.count() == baseCount + 5 * 3)
    val deltaEdges = t.filter(col("src") > cut)
    assert(deltaEdges.count() == 5 * 3)
    assert(deltaEdges.filter(col("dst") > cut).isEmpty, "dst must be base nodes")
    assert(deltaEdges.filter(col("src") === col("dst")).isEmpty)
  }

  test("ANN build/append plans: no corpus scan per row (the brute path's NLJ)") {
    import graft.operators.IvfIndex
    val model = IvfIndex.fitSeeds(corpus, "skill_id", "svec", 4)
    val build = GraphSearch.ivfCandidateEdges(corpus, "skill_id", "svec", 3,
      model, nProbe = 2)
    build.collect()
    val bp = build.queryExecution.executedPlan.toString
    assert(!bp.contains("CartesianProduct") && !bp.contains("BroadcastNestedLoopJoin"),
      s"IVF candidate generation must ride the list_id equi-join:\n$bp")
    // append: the only nested loop allowed is the walk's 1-row entry attach
    val tag = s"gsp_${System.nanoTime()}"
    GraphSearch.writeIndexIvf(corpus, "skill_id", "svec", 3, model, 2,
      s"graft_test_$tag", s"/tmp/graft_test_graph/$tag", 4)
    val delta = corpus.limit(3).select(
      (col("skill_id") + 1000000L).as("skill_id"), col("svec"))
    val app = GraphSearch.appendEdgesBeam(delta, corpus, "skill_id", "svec",
      3, s"graft_test_$tag", hops = 2, beam = 4)
    app.collect()
    val ap = app.queryExecution.executedPlan.toString
    assert(!ap.contains("CartesianProduct"), s"insert walk cross-products:\n$ap")
    val nlj = ap.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(nlj <= 1, s"only the 1-row entry attach may nested-loop ($nlj):\n$ap")
  }

  test("the beam walk is deterministic run to run") {
    val q = corpus.limit(4).select(col("skill_id").as("job_id"),
      col("svec").as("qvec"))
    val edges = PageRank.symmetrize(
      PageRank.directedKnnEdges(corpus, "skill_id", "svec", 3))
    def run() = GraphSearch.beamSearch(q, "job_id", "qvec", corpus,
      "skill_id", "svec", edges, hops = 3, beam = 4, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(run() == run())
  }

  test("filtered walk: full-graph traversal, predicate restricts the ranking only") {
    val q = corpus.limit(4).select(col("skill_id").as("job_id"),
      col("svec").as("qvec"))
    val edges = PageRank.symmetrize(
      PageRank.directedKnnEdges(corpus, "skill_id", "svec", 3))
    val pred = col("skill_id") % 2 === 0
    val filtered = GraphSearch.beamSearchAtStages(q, "job_id", "qvec", corpus,
      "skill_id", "svec", edges, Seq(3), beam = 4, k = 5,
      rankPred = Some(pred)).drop("hops")
    // every hit satisfies the predicate
    assert(filtered.filter(col("skill_id") % 2 =!= 0).isEmpty)
    // the WALK is unchanged by the predicate: filtered results are exactly
    // the unfiltered walk's visited ranking re-ranked over matching nodes —
    // equivalently, a trivial predicate reproduces the unfiltered walk
    val trivial = GraphSearch.beamSearchAtStages(q, "job_id", "qvec", corpus,
      "skill_id", "svec", edges, Seq(3), beam = 4, k = 5,
      rankPred = Some(lit(true))).drop("hops")
    val plain = GraphSearch.beamSearch(q, "job_id", "qvec", corpus,
      "skill_id", "svec", edges, hops = 3, beam = 4, k = 5)
    assert(trivial.collect().map(_.toSeq).toSet ==
      plain.collect().map(_.toSeq).toSet)
    // filtered hits ⊆ the unfiltered walk's VISITED set (rank over a deep
    // unfiltered ranking as a visited-set proxy at k = corpus size)
    val visited = GraphSearch.beamSearch(q, "job_id", "qvec", corpus,
      "skill_id", "svec", edges, hops = 3, beam = 4, k = 1000)
      .select("job_id", "skill_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(filtered.select("job_id", "skill_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet.subsetOf(visited))
  }

  test("duplicate stage depths are rejected") {
    val q = corpus.limit(2).select(col("skill_id").as("job_id"),
      col("svec").as("qvec"))
    val edges = PageRank.symmetrize(
      PageRank.directedKnnEdges(corpus, "skill_id", "svec", 3))
    intercept[IllegalArgumentException] {
      GraphSearch.beamSearchAtStages(q, "job_id", "qvec", corpus,
        "skill_id", "svec", edges, Seq(2, 2), beam = 4, k = 5)
    }
  }

  test("a large query fleet walks with per-hop parallelism, results unchanged") {
    // 10⁴ queries: each corpus vector re-labeled into many query ids. The
    // frontier must NOT serialize through one partition (the r7 verdict's
    // coalesce(1) nit) — with |Q|·beam = 40 000 rows per hop the frontier
    // partition target is > 1 — and per-query results must be identical to
    // the same walk run query-by-query (spot-checked on one id).
    val base = corpus.limit(10)
    val fleet = base.crossJoin(spark.range(0, 1000).select(col("id")))
      .select((col("skill_id") * 1000 + col("id")).as("job_id"),
        col("svec").as("qvec"))
    val edges = PageRank.symmetrize(
      PageRank.directedKnnEdges(corpus, "skill_id", "svec", 3))
    val walked = GraphSearch.beamSearch(fleet, "job_id", "qvec", corpus,
      "skill_id", "svec", edges, hops = 2, beam = 4, k = 3)
    // the frontier target spreads a 10⁴-query fleet (the final ranked
    // output may still AQE-coalesce; the sizing rule is what's pinned)
    assert(GraphSearch.frontierPartitions(10000L, 4, 32) > 1)
    assert(GraphSearch.frontierPartitions(20L, 32, 32) == 1)
    val target = base.limit(1).select((col("skill_id") * 1000).as("j"))
      .head().getLong(0)
    val fleetRows = walked.filter(col("job_id") === target)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    val solo = GraphSearch.beamSearch(
      fleet.filter(col("job_id") === target),
      "job_id", "qvec", corpus, "skill_id", "svec", edges,
      hops = 2, beam = 4, k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(fleetRows == solo)
    assert(fleetRows.nonEmpty)
  }

  test("stored-walk memo key carries the (hops, beam) tuple, so a per-twin " +
      "parameter change can never serve the other twin's stale walk") {
    val (hops, beam) = graft.queries.IndexQueries.storedWalkParams
    val key = graft.queries.IndexQueries.storedWalkKey("/some/dir")
    assert(key.contains("/some/dir"))
    assert(key.contains(s"h$hops") && key.contains(s"b$beam"), key)
  }
}
