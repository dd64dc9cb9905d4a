package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.ExactRound
import graft.functions.VectorFunctions.{Cosine, Metric}

/** PageRank over a k-NN similarity graph — a graph-centrality quality
  * prior for corpus items (Page et al. 1999; the "web graph" signal the
  * crawl-filtering literature uses, rebuilt here over embedding-space
  * neighborhoods when no hyperlink graph exists).
  *
  * Two pieces, both keyed-aggregation plans:
  *
  *  - [[knnEdges]]: symmetric top-k cosine neighbor edges. The pinned
  *    query uses the exact candidate generator (broadcast + bounded heap,
  *    KnnJoin's plan) so the DuckDB oracle can replay it; a 100 TB corpus
  *    swaps this one stage for the stored ANN probe (IvfIndex/LshIndex
  *    searches return exactly the (src, dst, dist) triples needed) and
  *    keeps everything downstream unchanged.
  *
  *  - [[pagerank]]: fixed-iteration power method in e9 integer fixed
  *    point. Every per-node share and the damping mix go through
  *    [[ExactRound.roundDiv]] (ties away from zero), so scores are exact
  *    integers — reproducible across engines, partitionings, and retry
  *    orders (a double-summing PageRank is none of those). Per iteration:
  *    one keyed join (share = r/deg), one shuffle-agg (inflow per dst),
  *    one left join (apply damping) — O(|E|) per round, never all-pairs;
  *    frames are `localCheckpoint`ed per round like the CC loops, so
  *    lineage stays bounded.
  *
  * The symmetric graph has no dangling nodes (every node emits its own
  * top-k edges), so the classic dangling-mass correction is unneeded —
  * total mass still drifts by rounding, which is why scores are pinned as
  * integer fixed point rather than a "sums to 1" invariant.
  */
object PageRank {

  /** DIRECTED top-`k` neighbor edges (src → its k nearest, self excluded):
    * the raw graph whose in-degree skew and reciprocity the graph-stats
    * queries read; [[knnEdges]] symmetrizes it for the rank walk. */
  def directedKnnEdges(vecs: DataFrame, idCol: String, vecCol: String, k: Int,
      metric: Metric = Cosine): DataFrame =
    directedKnnEdgesFrom(vecs, vecs, idCol, vecCol, k, metric)

  /** [[directedKnnEdges]] with a distinct source set: each `srcs` row gets
    * its top-`k` neighbors among `corpus` (self excluded by id) — the
    * append-ingest form, where a small delta batch is broadcast against
    * the full corpus scan exactly like a query batch. */
  def directedKnnEdgesFrom(srcs: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, metric: Metric = Cosine): DataFrame = {
    val a = broadcast(srcs.select(col(idCol).as("__src"),
      col(vecCol).as("__avec")))
    val keyCol = KnnJoin.keyColumn(corpus, idCol)
    // r16 (guide §2.5 "input skew"): the map side computes |srcs| distances
    // PER CORPUS ROW — compute is |srcs|× heavier than the scan bytes
    // suggest, and a small parquet corpus arrives as ONE split, serializing
    // the whole O(n·|srcs|) candidate stage onto one core (measured: a
    // single 6.6 s task building the sf0.1 kNN edge cache). Spreading the
    // scan across the cluster costs one pass of corpus BYTES — negligible
    // against the quadratic compute it parallelizes (and this brute form
    // is the test-scale/oracle twin; stored ANN replaces it at corpus
    // scale, see ivfCandidateEdges).
    val c = corpus.select(keyCol, col(vecCol).as("__cvec"))
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    val cands = a.join(c, col("__cid") =!= col("__src"))
      .select(col("__src"), metric.dist(col("__avec"), col("__cvec")).as("dist"),
        col("__cid"))
    KnnJoin.topkOfCandidates(cands, "__src", "dst", k)
      .select(col("__src").as("src"), col("dst"))
  }

  /** Both directions of a directed (src, dst) edge list, deduplicated —
    * the rank walk's undirected view. ONE definition so the walk and any
    * cached-edge call site can't drift. */
  def symmetrize(directed: DataFrame): DataFrame =
    directed
      .union(directed.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()

  /** Symmetric top-`k` cosine neighbor edges over one vector frame:
    * (src, dst) with both directions present, self-edges excluded before
    * the heap, deduplicated. */
  def knnEdges(vecs: DataFrame, idCol: String, vecCol: String, k: Int,
      metric: Metric = Cosine): DataFrame =
    symmetrize(directedKnnEdges(vecs, idCol, vecCol, k, metric))

  /** `iters` power-method rounds at damping `dampingPct`/100 over a
    * symmetric edge list. Output: (id, pr_e9) — the PageRank score scaled
    * by 10⁹, an exact integer. */
  def pagerank(edges: DataFrame, iters: Int, dampingPct: Int = 85): DataFrame = {
    require(iters >= 0 && dampingPct >= 0 && dampingPct <= 100)
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val deg = e.groupBy("src").agg(count(lit(1)).as("__deg")).localCheckpoint()
    // 1-row node count attached by broadcast cross join (never a driver
    // collect): base teleport share = roundDiv(15·10⁹, 100·n).
    val nn = deg.agg(count(lit(1)).as("__n"))
    val base = ExactRound.roundDiv(
      lit((100L - dampingPct) * 1000000000L), lit(100L) * col("__n"))
    var r = deg.crossJoin(broadcast(nn))
      .select(col("src").as("id"),
        ExactRound.roundDiv(lit(1000000000L), col("__n")).as("pr_e9"))
      .localCheckpoint()
    for (i <- 1 to iters) {
      val share = r.join(deg, col("id") === col("src"))
        .select(col("id").as("__u"),
          ExactRound.roundDiv(col("pr_e9"), col("__deg")).as("__share"))
      val inflow = e.join(share, col("src") === col("__u"))
        .groupBy(col("dst")).agg(sum(col("__share")).as("__inflow"))
      r = deg.join(inflow, col("src") === col("dst"), "left")
        .crossJoin(broadcast(nn))
        .select(col("src").as("id"),
          (base + ExactRound.roundDiv(
            lit(dampingPct.toLong) * coalesce(col("__inflow"), lit(0L)),
            lit(100L))).cast("long").as("pr_e9"))
      // Checkpoint every CHAINED rounds, not every round (r17; VERDICT r16
      // item 6): each round reads `r` exactly ONCE (share → inflow → mix),
      // so two chained rounds execute as one linear job — same arithmetic,
      // half the sequential checkpoint jobs whose fixed driver latency
      // dominates these fixed-point loops at measurement scale. Lineage
      // stays bounded at ≤ ChainedRounds rounds per checkpoint.
      if (i % ChainedRounds == 0 || i == iters) r = r.localCheckpoint()
    }
    r
  }

  /** Fixed-point rounds executed per `localCheckpoint` in the loops whose
    * round reads its state frame exactly once ([[pagerank]],
    * [[personalizedPagerank]]). 2 halves the per-query sequential job
    * count; deeper chains trade little more (the per-job latency is
    * amortized already) against plan growth. */
  private[operators] val ChainedRounds = 2

  /** PERSONALIZED PageRank (Haveliwala WWW'02; the "seed-and-expand"
    * selection prior): teleport mass returns only to the `seedIds` set —
    * after convergence a node's score is its random-walk proximity to the
    * trusted seeds, which is exactly the signal a curation pipeline uses
    * to expand a small vetted corpus into a large training set (the
    * crawl-frontier/harmonic-centrality pattern in Common Crawl
    * curation). Same e9 integer fixed point, same O(|E|)-per-round plan
    * as [[pagerank]]; non-seed nodes start at 0 and receive mass only
    * through edges. The seed count is a 1-row broadcast, never a driver
    * collect. Output: (id, ppr_e9). */
  def personalizedPagerank(edges: DataFrame, seedIds: DataFrame, iters: Int,
      dampingPct: Int = 85): DataFrame = {
    require(iters >= 0 && dampingPct >= 0 && dampingPct <= 100)
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    // distinct: a duplicated seed id would fan out the left join below,
    // double-counting that node's degree row and inflating the seed count
    val deg = e.groupBy("src").agg(count(lit(1)).as("__deg"))
      .join(seedIds.select(col("id").as("src"), lit(1L).as("__seed")).distinct(),
        Seq("src"), "left")
      .select(col("src"), col("__deg"), coalesce(col("__seed"), lit(0L)).as("__seed"))
      .localCheckpoint()
    val ns = deg.agg(sum(col("__seed")).as("__ns"))
    val teleport = (pct: Long) => ExactRound.roundDiv(
      col("__seed") * lit(pct * 1000000000L), lit(100L) * col("__ns"))
    var r = deg.crossJoin(broadcast(ns))
      .select(col("src").as("id"), teleport(100L).cast("long").as("ppr_e9"))
      .localCheckpoint()
    for (i <- 1 to iters) {
      val share = r.join(deg, col("id") === col("src"))
        .select(col("id").as("__u"),
          ExactRound.roundDiv(col("ppr_e9"), col("__deg")).as("__share"))
      val inflow = e.join(share, col("src") === col("__u"))
        .groupBy(col("dst")).agg(sum(col("__share")).as("__inflow"))
      r = deg.join(inflow, col("src") === col("dst"), "left")
        .crossJoin(broadcast(ns))
        .select(col("src").as("id"),
          (teleport((100 - dampingPct).toLong) + ExactRound.roundDiv(
            lit(dampingPct.toLong) * coalesce(col("__inflow"), lit(0L)),
            lit(100L))).cast("long").as("ppr_e9"))
      // chained-checkpoint cadence — see [[pagerank]]/[[ChainedRounds]]
      if (i % ChainedRounds == 0 || i == iters) r = r.localCheckpoint()
    }
    r
  }

  /** DuckDB twin of [[personalizedPagerank]] over the [[edgeCtesSql]]
    * graph: `seedPred` is a SQL predicate over the corpus CTE `c` row
    * (e.g. `c.label = 0`) defining the seed set. */
  def personalizedPagerankSql(corpusCte: String, idCol: String,
      vecCol: String, k: Int, seedPred: String, iters: Int,
      dampingPct: Int = 85, outIdCol: String = "id"): String = {
    val rd = ExactRound.roundDivSql _
    val head =
      s"""WITH $corpusCte,
         |${edgeCtesSql(idCol, vecCol, k)},
         |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
         |sd AS (SELECT $idCol AS id, CASE WHEN $seedPred THEN 1 ELSE 0 END AS seed
         |      FROM c),
         |deg AS (SELECT e.src, count(*) AS deg, max(sd.seed) AS seed
         |      FROM e JOIN sd ON sd.id = e.src GROUP BY 1),
         |nn AS (SELECT sum(seed) AS ns FROM deg),
         |r0 AS (SELECT src AS id, ${rd("seed * 100000000000", "100 * ns")} AS pr
         |      FROM deg, nn)""".stripMargin
    val rounds = (1 to iters).map { t =>
      s"""s$t AS (SELECT e.dst AS id, sum(sh.share) AS inflow
         |  FROM (SELECT r${t - 1}.id AS uid, ${rd(s"r${t - 1}.pr", "deg.deg")} AS share
         |        FROM r${t - 1} JOIN deg ON deg.src = r${t - 1}.id) sh
         |  JOIN e ON e.src = sh.uid GROUP BY 1),
         |r$t AS (SELECT d.src AS id,
         |    ${rd(s"d.seed * ${(100 - dampingPct).toLong * 1000000000L}", "100 * nn.ns")} +
         |    ${rd(s"$dampingPct * coalesce(s$t.inflow, 0)", "100")} AS pr
         |  FROM deg d LEFT JOIN s$t ON s$t.id = d.src CROSS JOIN nn)""".stripMargin
    }
    val tail =
      s"""SELECT id AS $outIdCol, CAST(pr AS BIGINT) AS ppr_e9 FROM r$iters"""
    (Seq(head) ++ rounds).mkString(",\n") + "\n" + tail
  }

  /** Triangle census of a symmetric edge list — exact triangle count plus
    * the global clustering coefficient, via DEGREE-ORDERED orientation
    * (Schank & Wagner 2005; the standard distributed-triangle trick, e.g.
    * Suri & Vassilvitskii WWW'11): each undirected edge is directed from
    * its (degree, id)-smaller endpoint to the larger, so every node's
    * out-degree is O(√m) regardless of hubs, and each triangle is counted
    * exactly once at its order-minimum vertex. The wedge join therefore
    * fans out per-node by the ORIENTED degree — a hub of in-degree 10⁶ in
    * a 100 TB similarity graph contributes no quadratic wedge set; the
    * closing-edge check is one keyed equi-join against the canonical edge
    * list (never all-pairs). Output is ONE row of exact integers:
    * (n_edges, n_wedges, n_triangles, global_cc_e6) with
    * cc = roundDiv(3·10⁶·T, wedges) and wedges = Σ deg·(deg−1)/2. */
  def triangleSummary(symEdges: DataFrame): DataFrame = {
    // canonical undirected edges (a < b), one row per unordered pair
    val und = symEdges.filter(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b")).distinct()
      .localCheckpoint()
    val deg = und.select(col("a").as("id"))
      .unionAll(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("__deg"))
    val withDeg = und
      .join(deg.select(col("id").as("a"), col("__deg").as("__da")), "a")
      .join(deg.select(col("id").as("b"), col("__deg").as("__db")), "b")
    val aFirst = col("__da") < col("__db") ||
      (col("__da") === col("__db") && col("a") < col("b"))
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("u"),
      when(aFirst, col("b")).otherwise(col("a")).as("v"))
    val wedgePairs = oriented.select(col("u"), col("v").as("x"))
      .join(oriented.select(col("u"), col("v").as("y")), "u")
      .filter(col("x") < col("y"))
    val tri = wedgePairs
      .join(und.select(col("a").as("x"), col("b").as("y")), Seq("x", "y"),
        "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val wedges = deg
      .agg(expr("sum(__deg * (__deg - 1)) DIV 2").as("n_wedges"))
    und.agg(count(lit(1)).as("n_edges"))
      .crossJoin(wedges)
      .crossJoin(tri)
      .withColumn("global_cc_e6",
        when(col("n_wedges") === 0, lit(0L)).otherwise(
          ExactRound.roundDiv(col("n_triangles") * lit(3000000L),
            col("n_wedges"))))
  }

  /** HITS hubs & authorities (Kleinberg JACM'99) over the DIRECTED edge
    * list in L1-normalized exact e9 fixed point: auth ← Σ_{u→v} hub(u),
    * hub ← Σ_{u→v} auth(v), each vector renormalized to Σ = 10⁹ with
    * [[ExactRound.roundDiv]]. Kleinberg's L2 normalization is a sqrt —
    * not exactly representable; L1 preserves the RANKING, which is the
    * deliverable (the hub/authority asymmetry PageRank's single score
    * cannot see: a node everyone points AT vs a node that points at all
    * the right places). Per iteration: two keyed aggs + two 1-row
    * broadcast normalizer attaches — O(|E|), never all-pairs; frames
    * localCheckpoint per round like [[pagerank]]. Output:
    * (id, hub_e9, auth_e9). */
  def hitsL1(directed: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = directed.select(col("src"), col("dst")).localCheckpoint()
    val nodes = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id"))).distinct().localCheckpoint()
    val nn = nodes.agg(count(lit(1)).as("__n"))
    def normalized(raw: DataFrame, vc: String): DataFrame = {
      val tot = raw.agg(sum(col(vc)).as("__tot"))
      raw.crossJoin(broadcast(tot))
        .select(col("id"), ExactRound.roundDiv(
          col(vc).cast("decimal(38,0)") * lit(1000000000L), col("__tot"))
          .as(vc))
    }
    var hub = nodes.crossJoin(broadcast(nn))
      .select(col("id"), ExactRound.roundDiv(lit(1000000000L), col("__n"))
        .as("hub")).localCheckpoint()
    var auth = hub.select(col("id"), col("hub").as("auth"))
    for (_ <- 1 to iters) {
      val aRaw = e.join(hub, col("src") === col("id"))
        .groupBy(col("dst")).agg(sum(col("hub")).as("auth"))
        .select(col("dst").as("__d"), col("auth"))
      auth = normalized(nodes.join(aRaw, col("id") === col("__d"), "left")
        .select(col("id"), coalesce(col("auth"), lit(0L)).as("auth")), "auth")
        .localCheckpoint()
      val hRaw = e.join(auth, col("dst") === col("id"))
        .groupBy(col("src")).agg(sum(col("auth")).as("hub"))
        .select(col("src").as("__s"), col("hub"))
      hub = normalized(nodes.join(hRaw, col("id") === col("__s"), "left")
        .select(col("id"), coalesce(col("hub"), lit(0L)).as("hub")), "hub")
        .localCheckpoint()
    }
    hub.join(auth.select(col("id").as("__i"), col("auth")),
        col("id") === col("__i"))
      .select(col("id"), col("hub").as("hub_e9"), col("auth").as("auth_e9"))
  }

  /** DuckDB twin of [[hitsL1]]: unrolled rounds over a directed CTE
    * `e0(src, dst)`; ends in `hits(id, hub_e9, auth_e9)`. */
  def hitsRoundsSql(iters: Int): String = {
    val rd = ExactRound.roundDivSql _
    // MATERIALIZED: DuckDB inlines plain CTEs, and each round referencing
    // the previous twice (values + normalizer sum) would re-expand the
    // O(n²) edge chain exponentially (the GraphSearch-oracle lesson).
    val head =
      s"""he AS MATERIALIZED (SELECT src, dst FROM e0),
         |hn AS MATERIALIZED (SELECT src AS id FROM he UNION SELECT dst FROM he),
         |hcnt AS (SELECT count(*) AS n FROM hn),
         |h0 AS MATERIALIZED (SELECT id, ${rd("1000000000", "n")} AS hub FROM hn, hcnt),
         |a0 AS (SELECT id, hub AS auth FROM h0)""".stripMargin
    val rounds = (1 to iters).map { t =>
      s"""ar$t AS MATERIALIZED (SELECT hn.id, coalesce(x.v, 0) AS v FROM hn
         |  LEFT JOIN (SELECT he.dst AS id, sum(h.hub) AS v
         |    FROM he JOIN h${t - 1} h ON h.id = he.src GROUP BY 1) x
         |    ON x.id = hn.id),
         |ast$t AS (SELECT sum(v) AS s FROM ar$t),
         |a$t AS MATERIALIZED (SELECT id, ${rd("v * 1000000000", s"ast$t.s")}
         |  AS auth FROM ar$t, ast$t),
         |hr$t AS MATERIALIZED (SELECT hn.id, coalesce(x.v, 0) AS v FROM hn
         |  LEFT JOIN (SELECT he.src AS id, sum(a.auth) AS v
         |    FROM he JOIN a$t a ON a.id = he.dst GROUP BY 1) x
         |    ON x.id = hn.id),
         |hst$t AS (SELECT sum(v) AS s FROM hr$t),
         |h$t AS MATERIALIZED (SELECT id, ${rd("v * 1000000000", s"hst$t.s")}
         |  AS hub FROM hr$t, hst$t)""".stripMargin
    }
    val tail =
      s"""hits AS (SELECT h$iters.id, h$iters.hub AS hub_e9,
         |  a$iters.auth AS auth_e9
         |  FROM h$iters JOIN a$iters ON a$iters.id = h$iters.id)""".stripMargin
    (Seq(head) ++ rounds :+ tail).mkString(",\n")
  }

  /** Resource-Allocation link prediction (Zhou, Lü & Zhang, Eur. Phys.
    * J. B 2009) over a symmetric edge list: for every NON-adjacent pair
    * (a, b) with at least one common neighbor, RA(a,b) = Σ_z 1/deg(z)
    * over common neighbors z — the missing-edge recommender (and
    * near-dup suspect ranker) of the graph family, which outperforms
    * Adamic-Adar's 1/log(deg) on dense similarity graphs per the paper
    * and, unlike it, is exactly representable: each term is the integer
    * `10⁹ div deg(z)`, so scores are engine- and order-independent.
    *
    * Candidates come from a wedge join through the common neighbor
    * (edges z→a ⋈ z→b, a < b) — the [[triangleSummary]] shape, never
    * all-pairs. Hubs are the quadratic hazard (a node of degree D emits
    * D²/2 wedges) AND the least informative terms (1/deg ≈ 0), so
    * neighbors with degree > `maxHub` are excluded from wedge generation
    * — the same bounded-fanout lever as [[HybridSearch]]'s posting cap;
    * at 100 TB the cap bounds per-key join fanout no matter how skewed
    * the in-degree histogram gets. Adjacent pairs leave via one keyed
    * anti-join against the edge list.
    *
    * Output: top `topN` pairs by (ra_e9 desc, a_id, b_id) —
    * (a_id, b_id, n_common, ra_e9), fully deterministic. */
  def linkPredictionRA(symEdges: DataFrame, topN: Int,
      maxHub: Int): DataFrame = {
    require(topN >= 1 && maxHub >= 2, s"need topN>=1, maxHub>=2; got $topN, $maxHub")
    val deg = symEdges.groupBy("src").agg(count(lit(1)).as("__deg"))
    val zEdges = symEdges.join(deg, "src")
      .filter(col("__deg") <= maxHub)
      .select(col("src").as("__z"), col("dst"),
        expr("1000000000 DIV __deg").as("__ra"))
    val cand = zEdges.select(col("__z"), col("dst").as("a_id"), col("__ra"))
      .join(zEdges.select(col("__z"), col("dst").as("b_id")), "__z")
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id")
      .agg(count(lit(1)).as("n_common"), sum(col("__ra")).as("ra_e9"))
    cand.join(symEdges.select(col("src").as("a_id"), col("dst").as("b_id")),
        Seq("a_id", "b_id"), "left_anti")
      .orderBy(col("ra_e9").desc, col("a_id"), col("b_id"))
      .limit(topN)
  }

  /** SQL mirror of [[linkPredictionRA]]: requires a CTE `sym(src, dst)`
    * (symmetric, distinct); ends in `rap` ready to SELECT. */
  def linkPredictionRASql(topN: Int, maxHub: Int): String =
    s"""radg AS (SELECT src, count(*) AS deg FROM sym GROUP BY 1),
       |raz AS (SELECT sym.src AS z, sym.dst, 1000000000 // radg.deg AS ra
       |  FROM sym JOIN radg ON radg.src = sym.src WHERE radg.deg <= $maxHub),
       |rac AS (SELECT a.dst AS a_id, b.dst AS b_id,
       |    count(*) AS n_common, CAST(sum(a.ra) AS BIGINT) AS ra_e9
       |  FROM raz a JOIN raz b ON a.z = b.z AND a.dst < b.dst
       |  GROUP BY 1, 2),
       |rap AS (SELECT rac.a_id, rac.b_id, rac.n_common, rac.ra_e9
       |  FROM rac LEFT JOIN sym s ON s.src = rac.a_id AND s.dst = rac.b_id
       |  WHERE s.src IS NULL
       |  ORDER BY rac.ra_e9 DESC, rac.a_id, rac.b_id LIMIT $topN)""".stripMargin

  /** SQL mirror of [[directedKnnEdges]] (cosine, ties (dist, dst)): CTE
    * block ending in e0(src, dst) — the ONE copy every edge-consuming
    * oracle interpolates, so the metric/tie-break can't drift per oracle.
    * Requires a CTE `c(idCol, vecCol)` with DOUBLE[] vectors. */
  def edgeCtesSql(idCol: String, vecCol: String, k: Int): String =
    edgeCtesFromSql("c", "c", idCol, vecCol, k, "")

  /** [[edgeCtesSql]] generalized the way [[directedKnnEdgesFrom]] is:
    * sources from `srcCte`, candidates from `candCte`, CTE names prefixed
    * so several instances can coexist (the append-layout oracles build
    * base-vs-base and delta-vs-full edge sets side by side). Ends in
    * `${prefix}e0(src, dst)`. */
  def edgeCtesFromSql(srcCte: String, candCte: String, idCol: String,
      vecCol: String, k: Int, prefix: String): String =
    s"""${prefix}nd AS (SELECT a.$idCol AS src, b.$idCol AS dst,
       |      1.0 - list_cosine_similarity(a.$vecCol, b.$vecCol) AS dist
       |    FROM $srcCte a JOIN $candCte b ON a.$idCol <> b.$idCol),
       |${prefix}e0 AS (SELECT src, dst FROM (
       |    SELECT src, dst,
       |      row_number() OVER (PARTITION BY src ORDER BY dist, dst) AS rn
       |    FROM ${prefix}nd) WHERE rn <= $k)""".stripMargin

  /** DuckDB twin of the whole computation: edges → degrees → `iters`
    * unrolled iterations, each the same roundDiv arithmetic. `corpusCte`
    * must define `c(idCol, vecCol)` with a DOUBLE[] vector. */
  def pagerankSql(corpusCte: String, idCol: String, vecCol: String,
      k: Int, iters: Int, dampingPct: Int = 85,
      outIdCol: String = "id"): String = {
    val head =
      s"""WITH $corpusCte,
         |${edgeCtesSql(idCol, vecCol, k)},
         |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0)""".stripMargin
    head + ",\n" + pagerankRoundsSql(iters, dampingPct, outIdCol)
  }

  /** The iteration block of [[pagerankSql]] factored out for graphs that
    * are NOT vector-kNN (TextRank's co-occurrence graph): requires a CTE
    * `e(src, dst)`, symmetric and distinct; emits deg/nn/r0/…/r`iters`
    * CTEs plus the final SELECT — append after your own WITH chain. */
  def pagerankRoundsSql(iters: Int, dampingPct: Int = 85,
      outIdCol: String = "id"): String = {
    val rd = ExactRound.roundDivSql _
    val head =
      s"""deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |nn AS (SELECT count(*) AS n FROM deg),
         |r0 AS (SELECT src AS id, ${rd("1000000000", "n")} AS pr
         |      FROM deg, nn)""".stripMargin
    val rounds = (1 to iters).map { t =>
      s"""s$t AS (SELECT e.dst AS id, sum(sh.share) AS inflow
         |  FROM (SELECT r${t - 1}.id AS uid, ${rd(s"r${t - 1}.pr", "deg.deg")} AS share
         |        FROM r${t - 1} JOIN deg ON deg.src = r${t - 1}.id) sh
         |  JOIN e ON e.src = sh.uid GROUP BY 1),
         |r$t AS (SELECT d.src AS id,
         |    ${rd(s"${(100 - dampingPct).toLong * 1000000000L}", "100 * nn.n")} +
         |    ${rd(s"$dampingPct * coalesce(s$t.inflow, 0)", "100")} AS pr
         |  FROM deg d LEFT JOIN s$t ON s$t.id = d.src CROSS JOIN nn)""".stripMargin
    }
    val tail =
      s"""SELECT id AS $outIdCol, CAST(pr AS BIGINT) AS pr_e9 FROM r$iters"""
    (Seq(head) ++ rounds).mkString(",\n") + "\n" + tail
  }
}
