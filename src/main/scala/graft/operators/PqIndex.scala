package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.l2Distance

/** Product quantization (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011) — the compression step past int8: split
  * each vector into `m` subspaces, quantize every subvector against a
  * per-subspace codebook of `k` codewords, and search with asymmetric
  * distance (ADC): the query stays full-precision, per-subspace distance
  * tables are computed once per query (m·k entries — broadcast-sized), and
  * each corpus vector costs m table lookups instead of `dim` multiplies.
  *
  * At 100 TB this is the difference between a corpus that fits executor
  * memory and one that doesn't: m=8, k=16 encodes a 64-dim float64 vector
  * (512 B) into 8 codes (8 B) — 64× — and the scan side of the k-NN join
  * reads codes only. The plan shape is unchanged from [[KnnJoin.exact]]:
  * broadcast queries (now carrying their distance tables), map-side lookup
  * distance, bounded-heap top-k reduce.
  *
  * Like [[IvfIndex.fitSeeds]], the seed codebook is deterministic — subspace
  * codewords are the sub-vectors of the `k` lowest-id corpus rows — so
  * encode, distance tables, and ADC ranking all replay exactly in the
  * DuckDB oracle. [[fitKMeans]] slots in the same way KMeans centroids do
  * for IVF: recall gated by an in-plan floor, not hash-compared.
  *
  * Float discipline: per-subspace distances use the same HOF l2 both
  * engines compute bit-identically; the ADC sum of squared sub-distances
  * runs in exact DECIMAL so neither engine's summation order can flip a
  * near-tie (the same trick the eval summaries use).
  */
object PqIndex {

  /** codebooks(m)(k) = codeword k of subspace m, length dim/m each. */
  case class Model(dim: Int, subDim: Int, codebooks: Seq[Seq[Seq[Double]]])

  /** Deterministic codebook: subspace m's codewords are the m-th sub-vectors
    * of the `k` lowest-id corpus rows (the PQ analog of IvfIndex.fitSeeds —
    * no iteration, oracle-replayable). */
  def fitSeeds(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int): Model = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val seeds = corpus
      .select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .orderBy(col(idCol)).limit(k)
      .select("__v").as[Seq[Double]].collect()
    require(seeds.nonEmpty, "PqIndex.fitSeeds: empty corpus")
    val dim = seeds.head.size
    require(dim % m == 0, s"PqIndex: dim $dim not divisible into $m subspaces")
    val sd = dim / m
    val books = (0 until m).map(s => seeds.toSeq.map(_.slice(s * sd, (s + 1) * sd)))
    Model(dim, sd, books)
  }

  private def subspace(v: Column, model: Model, m: Int): Column =
    slice(v, m * model.subDim + 1, model.subDim)

  /** KMeans-refined codebooks — the trained quantizer Jégou §II.A calls for
    * (each sub-quantizer learned independently; the reference's vendor
    * backend likewise trains its index, `load_skill_vectors_milvus.py:53-63`).
    * Seed codebooks are PQ's worst case on spread-out corpora (raw ADC
    * recall 0.15 on the random-vector fixture vs 0.67 after refine); Lloyd
    * iterations recover most of that gap before any refine pass.
    *
    * Scale shape: ALL m subspaces update in ONE keyed aggregation per
    * iteration — explode each training vector into its m sub-vectors tagged
    * by subspace, assign codes against the literal codebooks (pure
    * projection), and take per-(subspace, code, dim) means with map-side
    * partial aggregation. The model stays driver-side (m·k·subDim doubles);
    * training reads the `trainCap` lowest-id rows (TakeOrderedAndProject —
    * no global sort), the standard bounded-sample PQ training regime: a
    * 100 TB corpus trains on a fixed slice, then [[encode]] streams the
    * whole corpus once. Codeword means are floating-point, so like
    * [[IvfIndex.fitKMeans]] the result is gated by recall floor, not by
    * oracle hash. Empty clusters keep their previous codeword. */
  def fitKMeans(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, maxIter: Int = 10, trainCap: Int = 65536): Model =
    fitKMeansRounds(corpus, idCol, vecCol, m, k, maxIter, trainCap)._1

  /** [[fitKMeans]] plus the number of Lloyd rounds actually executed —
    * observable so the fixpoint early-exit (the whole point of the e6
    * re-quantization below) can be asserted rather than assumed: rounds <
    * maxIter means the exact-equality convergence fired and the remaining
    * sequential jobs were never launched. */
  private[graft] def fitKMeansRounds(corpus: DataFrame, idCol: String,
      vecCol: String, m: Int, k: Int, maxIter: Int = 10,
      trainCap: Int = 65536): (Model, Int) = {
    var rounds = 0
    var model = fitSeeds(corpus, idCol, vecCol, m, k)
    val train = corpus
      .select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .orderBy(col(idCol)).limit(trainCap)
      .select(posexplode(array((0 until m).map(s =>
        slice(col("__v"), s * model.subDim + 1, model.subDim)): _*)))
      .toDF("s", "sub")
      .cache()
    try {
      var converged = false
      for (_ <- 1 to maxIter if !converged) {
        rounds += 1
        val books = typedlit(model.codebooks)
        val means = train
          .withColumn("code",
            element_at(array_sort(transform(element_at(books, col("s") + 1),
              (cw, kk) => struct(l2Distance(col("sub"), cw).as("d"),
                kk.as("k")))), 1).getField("k"))
          .select(col("s"), col("code"),
            posexplode(col("sub")).as(Seq("d", "x")))
          .groupBy("s", "code", "d").agg(avg(col("x")).as("mx"))
          .collect()
          .groupBy(r => (r.getInt(0), r.getInt(1)))
          .map { case (key, rows) =>
            // Codeword means re-quantized to the e6 grid (the Pca power-
            // iteration / KMeansExact discipline): raw floating-point means
            // carry a last-ulp wobble from distributed summation order, so
            // the exact-equality fixpoint below could never fire and every
            // fit paid the full maxIter budget of sequential jobs (the r9
            // ivfpq_kmeans_recall breach mechanism). On the grid, identical
            // assignments ⇒ identical quantized means, the fixpoint is
            // reachable, and the trained model replays bit-for-bit across
            // runs. e6 is far below any codeword-separation scale that
            // could move an assignment, so recall is unaffected.
            key -> rows.sortBy(_.getInt(2))
              .map(r => math.rint(r.getDouble(3) * 1e6) / 1e6).toSeq
          }
        val next = Model(model.dim, model.subDim,
          (0 until m).map(s => (0 until k).map(kk =>
            means.getOrElse((s, kk), model.codebooks(s)(kk)))))
        // Lloyd fixpoint: identical codebooks ⇒ identical assignments ⇒
        // every later iteration is a no-op — stop paying for them. The e6
        // re-quantization above is what makes this exact equality
        // reachable in floating point.
        converged = next.codebooks == model.codebooks
        model = next
      }
    } finally train.unpersist()
    (model, rounds)
  }

  /** OPQ-lite pre-rotation (Ge, He, Ke & Sun, "Optimized Product
    * Quantization", CVPR 2013): OPQ's parametric solution allocates
    * dimensions to subspaces so each sub-quantizer carries comparable
    * energy (eigenvalue allocation, §4 — applied here in the natural
    * basis: a dimension PERMUTATION is an orthogonal rotation, and for the
    * hashing-TF/Zipf-skewed corpora this engine embeds, per-dim variance
    * skew is exactly what misallocates the plain left-to-right split).
    * Deterministic and oracle-replayable: dims rank by the exact-integer
    * variance key n·Σx₆² − (Σx₆)² (x₆ = e6 prescale, sums exact in
    * decimal/HUGEINT), ties by dim, then deal to the m subspaces in SNAKE
    * (boustrophedon) order — the classic balanced-allocation pass. The
    * dim-row census is a bounded model fetch like the codebook fetch.
    * Returns perm: the permuted vector's position j reads source dim
    * perm(j) (0-based). */
  def variancePermutation(corpus: DataFrame, vecCol: String, m: Int): Seq[Int] = {
    val x6 = graft.functions.ExactRound.e6(col("x")).cast("long")
    val rows = corpus
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("d", "x")))
      .select(col("d"), x6.as("x6"))
      .groupBy("d")
      .agg(count(lit(1)).as("n"),
        sum(col("x6").cast("decimal(38,0)")).as("s1"),
        sum((col("x6") * col("x6")).cast("decimal(38,0)")).as("s2"))
      .collect()
    require(rows.nonEmpty, "PqIndex.variancePermutation: empty corpus")
    val dim = rows.length
    require(dim % m == 0, s"PqIndex: dim $dim not divisible into $m subspaces")
    val sd = dim / m
    val ranked = rows.map { r =>
      val v = BigInt(r.getLong(1)) * BigInt(r.getDecimal(3).toBigInteger) -
        BigInt(r.getDecimal(2).toBigInteger).pow(2)
      (r.getInt(0), v)
    }.sortBy { case (d, v) => (-v, d) }
    val perm = Array.ofDim[Int](dim)
    ranked.zipWithIndex.foreach { case ((d, _), r) =>
      val round = r / m
      val s = if (round % 2 == 0) r % m else m - 1 - (r % m)
      perm(s * sd + round) = d
    }
    perm.toSeq
  }

  /** Apply a [[variancePermutation]] in place: vec'(j) = vec(perm(j)) —
    * a fixed dim-wide projection, fully codegen'd. */
  def permute(df: DataFrame, vecCol: String, perm: Seq[Int]): DataFrame =
    df.withColumn(vecCol, array(perm.map(i =>
      element_at(col(vecCol), i + 1)): _*))

  /** DuckDB twin of [[variancePermutation]] + [[permute]] over the
    * q/c fixture frames: CTE block ending in qp(job_id, qvec) and
    * cp(skill_id, svec) — the permuted frames. The 1-based `d` here vs
    * Spark's 0-based posexplode index preserves the tie order, and
    * p[j] is already the 1-based source subscript. */
  def permutedFixtureSql(dim: Int, m: Int): String = {
    val sd = dim / m
    val x6 = graft.functions.ExactRound.e6Sql("svec[i]")
    s"""vx AS (SELECT i AS d, count(*) AS n,
       |    sum(CAST($x6 AS HUGEINT)) AS s1,
       |    sum(CAST($x6 AS HUGEINT) * CAST($x6 AS HUGEINT)) AS s2
       |  FROM c, unnest(generate_series(1, $dim)) AS t(i) GROUP BY 1),
       |vrk AS (SELECT d, CAST(row_number() OVER (
       |    ORDER BY n * s2 - s1 * s1 DESC, d) AS INT) - 1 AS r FROM vx),
       |vtp AS (SELECT d, (CASE WHEN (r // $m) % 2 = 0 THEN r % $m
       |    ELSE ${m - 1} - (r % $m) END) * $sd + r // $m AS np FROM vrk),
       |vpl AS (SELECT list(d ORDER BY np) AS p FROM vtp),
       |cp AS (SELECT skill_id, list_transform(generate_series(1, $dim),
       |    j -> svec[vpl.p[j]]) AS svec FROM c, vpl),
       |qp AS (SELECT job_id, list_transform(generate_series(1, $dim),
       |    j -> qvec[vpl.p[j]]) AS qvec FROM q, vpl)""".stripMargin
  }

  /** Seed-PQ ADC pipeline in SQL over caller-named frames
    * `qName`(job_id, qvec) / `cName`(skill_id, svec): seed codebooks from
    * the `k` lowest-id rows, argmin encode, per-query distance tables, ADC
    * ranking with the squared sub-distances summed in exact DECIMAL (the
    * same float discipline as [[search]]). CTE names carry prefix `p` so
    * two chains (e.g. plain + OPQ-permuted) can coexist in one query; ends
    * in `${p}pr`(job_id, skill_id, dist, rank). */
  def adcCtesSql(qName: String, cName: String, dim: Int, m: Int, k: Int,
      p: String = ""): String = {
    val sd = dim / m
    def sl(v: String) = s"$v[${p}mm.m*$sd+1 : ${p}mm.m*$sd+$sd]"
    s"""${p}mm AS (SELECT unnest(generate_series(0, ${m - 1})) AS m),
       |${p}cb AS (SELECT CAST(row_number() OVER (ORDER BY skill_id) AS INT) - 1 AS k, svec
       |  FROM (SELECT skill_id, svec FROM $cName ORDER BY skill_id LIMIT $k)),
       |${p}encd AS (SELECT c.skill_id, ${p}mm.m, ${p}cb.k,
       |    list_distance(${sl("c.svec")}, ${sl(s"${p}cb.svec")}) AS d
       |  FROM $cName c CROSS JOIN ${p}mm CROSS JOIN ${p}cb),
       |${p}enc AS (SELECT skill_id, m, k FROM (
       |    SELECT skill_id, m, k,
       |      row_number() OVER (PARTITION BY skill_id, m ORDER BY d, k) AS r
       |    FROM ${p}encd) WHERE r = 1),
       |${p}qd AS (SELECT q.job_id, ${p}mm.m, ${p}cb.k,
       |    list_distance(${sl("q.qvec")}, ${sl(s"${p}cb.svec")}) AS d
       |  FROM $qName q CROSS JOIN ${p}mm CROSS JOIN ${p}cb),
       |${p}ad AS (SELECT qd.job_id, enc.skill_id,
       |    sqrt(CAST(sum(CAST(qd.d * qd.d AS DECIMAL(30,18))) AS DOUBLE)) AS dist
       |  FROM ${p}enc enc JOIN ${p}qd qd ON enc.m = qd.m AND enc.k = qd.k
       |  GROUP BY 1, 2),
       |${p}pr AS (SELECT job_id, skill_id, dist,
       |    CAST(row_number() OVER (PARTITION BY job_id ORDER BY dist, skill_id) AS BIGINT) AS rank
       |  FROM ${p}ad)""".stripMargin
  }

  /** Per-subspace distance tables for a query vector: dt(m)(k) =
    * l2(sub_m(q), codebook(m)(k)) — shared by [[search]] and [[searchIvf]]. */
  private def distTables(qv: Column, model: Model): Column =
    array(model.codebooks.indices.map { m =>
      transform(typedlit(model.codebooks(m)),
        cw => l2Distance(subspace(qv, model, m), cw))
    }: _*)

  /** ADC distance from a distance-table column and a codes column:
    * √Σ_m dt(m)(codes(m))², squared sub-distances summed in exact decimal.
    * decimal(30,18): wide enough that the running sum never overflows its
    * 12 integer digits, and the post-add cast back to scale 18 only trims
    * integer headroom (Spark's Add widens precision) — the fractional part
    * is never rounded, so the sum is exact and equals DuckDB's decimal
    * sum. Shared by [[search]] and [[searchIvf]] so the two ADC paths
    * cannot diverge.
    *
    * Magnitude precondition (API contract, not just a fixture fact): a
    * squared sub-distance must fit 12 integer digits, i.e. per-subspace
    * l2 < 10^6 — any embedding with |v_i| ≲ 10^4 is fine. Past that the
    * decimal cast nulls (non-ANSI) or throws (ANSI) instead of silently
    * wrapping; normalize or rescale vectors before encoding. */
  private def adcDist(dt: Column, codes: Column): Column =
    sqrt(aggregate(
      zip_with(dt, codes, (t, cc) => {
        val d = element_at(t, cc + 1)
        (d * d).cast("decimal(30,18)")
      }),
      lit(java.math.BigDecimal.ZERO).cast("decimal(30,18)"),
      (acc, x) => (acc + x).cast("decimal(30,18)")).cast("double"))

  /** Encode every row: `codes` array<int> of length m, codes(m) = argmin_k
    * l2(sub_m(vec), codebook(m)(k)), ties to the lowest k. Pure projection —
    * fused into the scan, nothing shuffles (same shape as IvfIndex.assign). */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
      model: Model): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val codeCols = model.codebooks.indices.map { m =>
      element_at(array_sort(transform(typedlit(model.codebooks(m)),
        (cw, k) => struct(l2Distance(subspace(v, model, m), cw).as("d"),
          k.as("k")))), 1).getField("k")
    }
    corpus.select(col(idCol), array(codeCols: _*).as("codes"))
  }

  /** ADC top-k: per query, distance tables dt(m)(k) = l2(sub_m(q), cw) are
    * computed once and broadcast with the query; each corpus row then costs
    * m lookups: dist = √Σ_m dt(m)(codes(m))². The squared sub-distances sum
    * in exact decimal — order-independent across engines. */
  def search(queries: DataFrame, queryIdCol: String, queryVecCol: String,
      encoded: DataFrame, idCol: String, model: Model, k: Int): DataFrame = {
    val qv = col(queryVecCol).cast("array<double>")
    val q = broadcast(queries.select(col(queryIdCol),
      distTables(qv, model).as("__dt")))
    val keyCol = KnnJoin.keyColumn(encoded, idCol)
    val c = encoded.select(keyCol, col("codes").as("__codes"))
    val cands = q.join(c).select(col(queryIdCol),
      adcDist(col("__dt"), col("__codes")).as("dist"), col("__cid"))
    KnnJoin.topkOfCandidates(cands, queryIdCol, idCol, k)
  }

  /** IVF-PQ (FAISS's IVFADC, Jégou et al. §V): the coarse quantizer prunes
    * WHICH rows are scanned (top-`nProbe` inverted lists per query), the
    * product codes shrink WHAT a scanned row costs (m table lookups on
    * 8-byte codes). `indexed` must carry `list_id` (IvfIndex.assign) and
    * `codes` ([[encode]]) — at rest that's the list-partitioned codes
    * table, so the scan does partition pruning AND reads no vectors. Both
    * quantizers here are the deterministic seed variants, so the full
    * composition — probe choice, code lookups, ranking — replays in the
    * DuckDB oracle.
    *
    * Filtered search passes the filtered layout: `indexed.filter(pred)`
    * over a [[writeIvfIndex]] layout written with the predicate's
    * `metaCols`. The filter lands on the scan side of the probe join, so
    * it reaches the codes table's scan under the DynamicPruningExpression
    * partition pruning the probes induce (only the probed partitions'
    * FILES are read) and prunes rows BEFORE any ADC lookup. A match in a
    * probed list is never lost to post-k truncation; quality degrades
    * only by probe choice and code quantization, exactly as unfiltered.
    *
    * Probe ranking and probe join are [[IvfIndex.search]]'s
    * ([[IvfIndex.probeLists]], [[IvfIndex.probeJoin]] — the ranking keeps
    * its window Filter because partition pruning needs it); PQ supplies
    * only the per-query distance tables, carried through the probes in
    * place of the query vector (dropped before the broadcast), and the ADC
    * scorer.
    *
    * `excludeIds` is the delete-aware serving face ([[Tombstones]]): the
    * tombstone set anti-joins the candidate stream AFTER the probe join —
    * the same placement as [[IvfIndex.search]], for the same reason (an
    * anti-join above the partitioned codes scan would break the
    * DynamicPruningExpression partition pruning) — so deleted rows drop
    * before any ADC lookup while the scan stays probe-pruned. */
  def searchIvf(queries: DataFrame, queryIdCol: String, queryVecCol: String,
      indexed: DataFrame, idCol: String, ivfModel: IvfIndex.Model,
      pqModel: Model, k: Int, nProbe: Int,
      metric: graft.functions.VectorFunctions.Metric,
      excludeIds: Option[DataFrame] = None): DataFrame = {
    val qv = col(queryVecCol).cast("array<double>")
    val probes = IvfIndex.probeLists(
      queries.select(col(queryIdCol), qv.as("__qv"), distTables(qv, pqModel).as("__dt")),
      queryIdCol, "__qv", ivfModel, nProbe, metric, "__dt")
    val cands = IvfIndex.probeJoin(probes, indexed, idCol,
      col("codes").as("__codes"), excludeIds)
      .select(col(queryIdCol),
        adcDist(col("__dt"), col("__codes")).as("dist"), col("__cid"))
    KnnJoin.topkOfCandidates(cands, queryIdCol, idCol, k)
  }

  /** Code-assignment drift between two codebook fits — [[IvfIndex
    * .assignmentDrift]]'s product-quantizer sibling, the rebuild signal at
    * the CODE level (an appendable codes table encodes deltas against the
    * stored codebooks; once re-fitting would move many cells, rebuild).
    * A cell = one (vector, subspace) assignment; changed = the chosen
    * codeWORD differs BY VALUE between fits (codebook relabeling can't
    * fake stability). Both argmins evaluate as literal-codebook
    * projections fused into ONE corpus scan — no join, no shuffle beyond
    * the 1-row aggregate. Output: (n_vectors, n_cells, n_changed_cells,
    * drift_e6). */
  def codeDrift(corpus: DataFrame, idCol: String, vecCol: String,
      oldModel: Model, newModel: Model): DataFrame = {
    require(oldModel.dim == newModel.dim && oldModel.subDim == newModel.subDim,
      s"codeDrift: incompatible shapes ${oldModel.dim}/${oldModel.subDim} vs " +
        s"${newModel.dim}/${newModel.subDim}")
    val m = oldModel.codebooks.size
    val v = col(vecCol).cast("array<double>")
    def chosen(model: Model, mm: Int): Column =
      element_at(typedlit(model.codebooks(mm)),
        element_at(array_sort(transform(typedlit(model.codebooks(mm)),
          (cw, k) => struct(l2Distance(slice(v, mm * model.subDim + 1,
            model.subDim), cw).as("d"), k.as("k")))), 1).getField("k") + 1)
    val changed = (0 until m).map(mm =>
      when(chosen(oldModel, mm) === chosen(newModel, mm), 0L).otherwise(1L))
      .reduce(_ + _)
    corpus.select(changed.as("__chg"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("__chg")).as("n_changed_cells"))
      .select(col("n_vectors"), (col("n_vectors") * lit(m.toLong)).as("n_cells"),
        col("n_changed_cells"),
        graft.functions.ExactRound.roundDiv(col("n_changed_cells") * lit(1000000L),
          col("n_vectors") * lit(m.toLong)).as("drift_e6"))
  }

  /** Stable fingerprint of the (coarse quantizer, codebooks, metric)
    * triple an IVF-PQ layout was encoded under — stamped at the table's
    * location by [[writeIvfIndex]] ([[graft.Layouts]]) and REQUIRED to match by
    * [[appendToIvfIndex]], so a delta encoded against re-fitted models
    * (a silently incompatible code space) fails loudly instead of
    * corrupting the index. */
  def modelFingerprint(pqModel: Model, ivfModel: IvfIndex.Model,
      metric: graft.functions.VectorFunctions.Metric): String =
    graft.Layouts.md5Hex(s"${pqModel.dim}|${pqModel.subDim}|" +
      s"${pqModel.codebooks}|${IvfIndex.centroidsKey(ivfModel)}|$metric")

  /** The combined IVF-PQ layout at rest: (id, codes, list_id) partitioned
    * by `list_id` — the on-disk form of [[searchIvf]]'s `indexed` input.
    * Partitioning by the coarse list means a probe-pruned read touches only
    * the probed lists' files (the ivfflat trade IvfIndex.write makes,
    * applied to codes instead of vectors: pruning AND 64× smaller rows).
    * The models' [[modelFingerprint]] is stamped on the table for
    * [[appendToIvfIndex]]'s compatibility check.
    *
    * `metaCols` carries extra corpus columns (filter metadata — labels,
    * language, license class) into the layout so a filter over it
    * ([[searchIvf]]'s filtered input) can prune rows at the codes scan:
    * the filtered-vector-store layout choice — metadata rides WITH the
    * index, never a post-search join back to the corpus. Appends must pass the same list
    * ([[appendToIvfIndex]]) so the column positions line up. */
  def writeIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      pqModel: Model, ivfModel: IvfIndex.Model,
      metric: graft.functions.VectorFunctions.Metric,
      tableName: String, path: String, metaCols: Seq[String] = Nil): Unit = {
    val spark = corpus.sparkSession
    // a fresh build supersedes the path's delete history (its sidecar
    // markers, which the overwrite below does not reach)
    graft.operators.Tombstones.clearForRebuild(spark, path)
    spark.sql(s"DROP TABLE IF EXISTS $tableName")
    IvfIndex.assign(corpus, idCol, vecCol, ivfModel, metric)
      .select(col(idCol) +: metaCols.map(col) :+ col("list_id"): _*)
      .join(encode(corpus, idCol, vecCol, pqModel), idCol)
      .write.mode("overwrite").format("parquet")
      .partitionBy("list_id")
      .option("path", path).saveAsTable(tableName)
    graft.Layouts.stampFingerprint(spark, tableName,
      modelFingerprint(pqModel, ivfModel, metric))
  }

  /** O(delta) ingest for the stored [[writeIvfIndex]] layout (the
    * daily-crawl path): assign + encode ONLY the delta rows against the
    * STORED coarse centroids and codebooks and append them into the
    * list-partitioned codes table — the base corpus is never re-read or
    * re-encoded, so a daily batch costs O(|delta|) instead of the full
    * re-encode a rebuild-only index forces (the gap the reference's
    * truncate-then-reload loaders have, `load_skill_vectors_pg.py:29-31`).
    * Both steps are pure projections, so the append is one delta-scan
    * write job touching only the delta's list_id partitions.
    *
    * Append-mode invariant: `pqModel`/`ivfModel` MUST be the models the
    * base build used — encoding deltas against re-fitted models silently
    * mixes incompatible code spaces. ENFORCED: the build stamps
    * [[modelFingerprint]] at the table's location and this method requires
    * a match. Re-fitting requires a rebuild; `ivf_drift_summary` is the
    * metric a deployment schedules rebuilds by.
    * Rebuild equivalence (same models ⇒ appended table ≡ from-scratch
    * encode of the union) is exact because assign/encode are
    * row-deterministic — gated by `pq_index_append` / `ivfpq_appended_topk`. */
  def appendToIvfIndex(delta: DataFrame, idCol: String, vecCol: String,
      pqModel: Model, ivfModel: IvfIndex.Model,
      metric: graft.functions.VectorFunctions.Metric, tableName: String,
      metaCols: Seq[String] = Nil): Unit = {
    graft.Layouts.checkFingerprint(delta.sparkSession, tableName,
      modelFingerprint(pqModel, ivfModel, metric), "PqIndex.appendToIvfIndex")
    IvfIndex.assign(delta, idCol, vecCol, ivfModel, metric)
      .select(col(idCol) +: metaCols.map(col) :+ col("list_id"): _*)
      .join(encode(delta, idCol, vecCol, pqModel), idCol)
      // insertInto is position-based: (id, meta..., codes, list_id) is the
      // saveAsTable schema (partition column last)
      .select(col(idCol) +: metaCols.map(col) :+ col("codes") :+ col("list_id"): _*)
      .write.mode("append").insertInto(tableName)
  }

  /** Compact an appended codes table: rewrite each list partition's files
    * in one pass off a checkpointed read ([[Bucketed.compactWith]], the
    * scaffold every stored layout compacts through, with a
    * list-partitioned write — every append adds a file
    * per touched partition, and a long append history degrades probe scan
    * efficiency; compaction bounds it while changing nothing a reader
    * sees, gated by `pq_index_compact`).
    * "Nothing a reader sees" includes the build's model fingerprint and
    * the layout's [[Tombstones]]: both live in the layout's sidecar,
    * which the rewrite never touches, so delete markers keep hiding their
    * rows by default; `purgeIdCol` turns the compaction into the physical
    * purge instead — tombstoned rows leave the files and the markers are
    * cleared after the rewrite, [[IvfIndex.compact]]'s compressed-tier
    * sibling. */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      tableName: String, purgeIdCol: Option[String] = None): Unit = {
    val loc = graft.Layouts.location(spark, tableName).get
    Bucketed.compactWith(spark, loc, spark.table(tableName), purgeIdCol,
        identity) { rows =>
      spark.sql(s"DROP TABLE IF EXISTS $tableName")
      rows.write.mode("overwrite").format("parquet")
        .partitionBy("list_id").option("path", loc).saveAsTable(tableName)
    }
  }

  /** ADC + refine (the "IVFADC+R" production shape): [[search]] overfetches
    * k·`overfetch` candidates from the code scan, then ONLY those rows'
    * true vectors are read back and exact-ranked. The expensive full-width
    * vector column is touched for |Q|·k·overfetch rows instead of the whole
    * corpus — the read-amplification profile that makes PQ usable as a
    * first pass at 100 TB, while the refine step restores most of the
    * recall the 8-byte codes gave up. */
  def searchRefined(queries: DataFrame, queryIdCol: String, queryVecCol: String,
      encoded: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      model: Model, k: Int, overfetch: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cands = search(queries, queryIdCol, queryVecCol, encoded, idCol,
      model, k * overfetch).select(col(queryIdCol), col(idCol))
    val withVec = cands.join(
      corpus.select(col(idCol), col(vecCol).cast("array<double>").as("__cvec")),
      idCol)
    val q = broadcast(queries.select(col(queryIdCol),
      col(queryVecCol).cast("array<double>").as("__qvec")))
    val w = Window.partitionBy(col(queryIdCol)).orderBy(col("dist"), col(idCol))
    withVec.join(q, queryIdCol)
      .withColumn("dist", graft.functions.VectorFunctions
        .fusedDistance("l2")(col("__qvec"), col("__cvec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col(idCol), col("rank"), col("dist"))
  }
}
