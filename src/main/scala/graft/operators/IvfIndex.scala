package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.ml.functions.array_to_vector
import graft.functions.VectorFunctions.Metric

/** X1 — IVF coarse-quantizer index, the batch analog of pgvector's
  * `ivfflat (lists=4)` build (`load_skill_vectors_pg.py:48-59`, NUM_LISTS
  * `:15`) and of Milvus' index+probe search path.
  *
  * Build: pick/learn `lists` centroids, assign every corpus vector its
  * nearest centroid's `list_id`, and [[write]] the table partitioned by
  * `list_id` — the on-disk layout IS the inverted-list index, and partition
  * pruning plays the role of `SET ivfflat.probes`.
  *
  * Search: rank centroids per query (a |Q|×lists cross — centroids are tiny
  * and broadcast), keep `nProbe` lists, then join candidates through the
  * pruned lists only: the shuffle moves |probed partitions| of data, not the
  * whole corpus — the property that matters at 100 TB. `nProbe = lists`
  * degrades to exact search (the reference forces exactness the same way,
  * comment at `skills_for_jobs.py:360-362`).
  *
  * Two quantizers, one search path:
  *  - [[fitSeeds]]: centroids = the `lists` lowest-id corpus vectors.
  *    Deterministic arithmetic end to end → DuckDB-oracle-replayable.
  *  - [[fitKMeans]]: MLlib KMeans (fixed seed) refines real centroids;
  *    recall is asserted in tests rather than hash-compared.
  *
  * Lifecycle: build ([[write]]), O(delta) [[append]], [[compact]]. The
  * layout's model fingerprint lives where every stored layout's does
  * ([[graft.Layouts]], keyed by the path), and compaction runs through the
  * one scaffold the catalog tables use ([[Bucketed.compactWith]]).
  */
object IvfIndex {

  /** Centroid table: (list_id int, centroid array<double>). */
  case class Model(centroids: DataFrame)

  /** Deterministic quantizer: list k's centroid is the k-th lowest-id
    * corpus vector (no iteration — random-seed IVF without Lloyd).
    *
    * `orderBy(id).limit(lists)` compiles to TakeOrderedAndProject: every
    * partition keeps its own top-`lists`, the driver merges ≤ lists rows per
    * partition — unlike a global `Window.orderBy`, which would funnel the
    * ENTIRE corpus through one task. The ≤ lists seed vectors are collected
    * (they're the model — tiny by definition) and re-emitted as the
    * broadcastable centroid table. float→double widening is exact, so
    * distances are bit-identical to ranking over the raw corpus column. */
  def fitSeeds(corpus: DataFrame, idCol: String, vecCol: String, lists: Int): Model = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val seeds = corpus
      .select(col(idCol), col(vecCol).cast("array<double>").as("centroid"))
      .orderBy(col(idCol)).limit(lists)
      .select("centroid").as[Seq[Double]].collect()
    Model(seeds.zipWithIndex.toSeq
      .map { case (c, i) => (i, c) }.toDF("list_id", "centroid"))
  }

  /** KMeans-refined centroids (MLlib, fixed seed, k = lists). */
  def fitKMeans(corpus: DataFrame, vecCol: String, lists: Int,
      maxIter: Int = 20, seed: Long = 42L): Model = {
    val feats = corpus.select(array_to_vector(col(vecCol).cast("array<double>")).as("features"))
    val km = new org.apache.spark.ml.clustering.KMeans()
      .setK(lists).setMaxIter(maxIter).setSeed(seed)
    val model = km.fit(feats)
    val spark = corpus.sparkSession
    import spark.implicits._
    Model(model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toArray.toSeq) }.toDF("list_id", "centroid"))
  }

  /** Assign every row its nearest centroid (ties → lowest list_id).
    * Adds `list_id` to the input columns; rows are keyed by idCol.
    *
    * Zero-shuffle by construction: the model is already a collected local
    * table (it IS the model — `lists` rows), so the centroids become a
    * LITERAL array of (dist, list_id) structs and the argmin is
    * `array_sort(...)[1].list_id` — a pure projection fused into the scan.
    * The earlier broadcast-join + `Window.partitionBy(idCol)` form forced a
    * hash exchange of |corpus|×lists rows just to keep one per row; at
    * 100 TB that's a full extra shuffle of a lists×-amplified corpus.
    * Struct ordering compares fields left-to-right, so ties on distance
    * break toward the lowest list_id — the same (dist, list_id) order the
    * window used and the SQL oracle's row_number mirrors. */
  def assign(corpus: DataFrame, idCol: String, vecCol: String, model: Model,
      metric: Metric): DataFrame =
    corpus.withColumn("list_id",
      element_at(nearestLists(col(vecCol), model, metric), 1).getField("list_id"))

  /** [[assign]]'s multi-probe sibling: each row exploded to its `nProbe`
    * NEAREST centroids' list_ids (ties → lowest list_id, the same
    * (dist, list_id) struct order). Same zero-shuffle shape — the model is
    * a literal array and the top-`nProbe` pick is
    * `slice(array_sort(...), 1, nProbe)` fused into the scan; only the
    * explode's nProbe× row amplification leaves the projection. This is
    * the probe side of source-side IVF jobs where the "queries" ARE the
    * corpus (the ANN kNN-graph build): a per-row window over a
    * corpus×lists join would shuffle the whole amplified corpus just to
    * rank ≤ `lists` literals. */
  def probeAssign(df: DataFrame, vecCol: String, model: Model, nProbe: Int,
      metric: Metric): DataFrame = {
    require(nProbe >= 1, s"IvfIndex.probeAssign: nProbe must be >= 1, got $nProbe")
    df.withColumn("list_id", explode(
      slice(nearestLists(col(vecCol), model, metric), 1, nProbe).getField("list_id")))
  }

  /** The model's centroids collected to the driver, ordered by list_id —
    * the one collect behind [[assign]], [[probeAssign]] and
    * [[centroidsKey]]. */
  private def collectCentroids(model: Model): Array[(Int, Seq[Double])] =
    model.centroids
      .select(col("list_id").cast("int"), col("centroid").cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
      .sortBy(_._1)

  /** Every centroid as a (d, list_id) struct against `vec`, sorted
    * nearest first. Struct ordering compares fields left to right, so ties
    * on distance break toward the lowest list_id. */
  private def nearestLists(vec: Column, model: Model, metric: Metric): Column = {
    val cents = collectCentroids(model)
    require(cents.nonEmpty, "IvfIndex: model has no centroids")
    array_sort(array(cents.toSeq.map { case (i, c) =>
      struct(metric.dist(vec, lit(c.toArray)).as("d"), lit(i).as("list_id"))
    }: _*))
  }

  /** Canonical serialization of a centroid table — the ONE implementation
    * both this module's and [[PqIndex]]'s fingerprints build on, so the
    * two stamp formats cannot drift apart. */
  private[operators] def centroidsKey(model: Model): String =
    collectCentroids(model)
      .map { case (i, c) => s"$i:${c.mkString(",")}" }
      .sorted.mkString(";")

  /** Stable fingerprint of the (centroids, metric) pair a [[write]] layout
    * was assigned under — stamped at the layout path like every stored
    * layout's ([[graft.Layouts.stampFingerprintAt]]); the path-keyed
    * sibling of [[PqIndex.modelFingerprint]]. */
  def modelFingerprint(model: Model, metric: Metric): String =
    graft.Layouts.md5Hex(s"${centroidsKey(model)}|$metric")

  /** K3-style index materialization: overwrite, partitioned by list_id —
    * `spark.read.parquet(path)` + a `list_id` filter then prunes partitions
    * exactly like ivfflat probes. Unstamped: [[append]] checks nothing. */
  def write(indexed: DataFrame, path: String): Unit = {
    // a fresh build supersedes the path's delete history and identity,
    // which sit in its sidecar where the overwrite below cannot reach them:
    // stale markers would hide the NEW build's live rows, a stale
    // fingerprint would check appends against the OLD model
    Tombstones.clearForRebuild(indexed.sparkSession, path)
    graft.Layouts.clearFingerprintAt(indexed.sparkSession, path)
    indexed.write.mode("overwrite").partitionBy("list_id").parquet(path)
  }

  /** [[write]] stamped with the assignment model's fingerprint — the
    * append-able form: [[append]] requires its model to match. */
  def write(indexed: DataFrame, path: String, model: Model,
      metric: Metric): Unit = {
    write(indexed, path)
    graft.Layouts.stampFingerprintAt(indexed.sparkSession, path,
      modelFingerprint(model, metric))
  }

  /** O(delta) ingest for a [[write]] layout: assign ONLY the delta against
    * the STORED model and append into the partitioned files — the plain-IVF
    * face of [[PqIndex.appendToIvfIndex]], same invariant (the model must
    * be the build's; re-fit ⇒ rebuild, scheduled via [[assignmentDrift]]),
    * ENFORCED against the layout's fingerprint when the build stamped one
    * (builds through the 2-arg [[write]] pass unchecked, preserving
    * compatibility with externally-created layouts). Assign is a pure
    * projection, so the append touches only the delta's list_id
    * partitions. */
  def append(delta: DataFrame, idCol: String, vecCol: String, model: Model,
      metric: Metric, path: String): Unit = {
    graft.Layouts.checkFingerprintAt(delta.sparkSession, path,
      modelFingerprint(model, metric), "IvfIndex.append")
    // Tombstone-collision guard: exclusion is BY ID ([[Tombstones]]), so a
    // delta row re-using a tombstoned id would land in the files and then
    // be hidden by the very tombstone that killed its predecessor — a
    // silent lost insert. Id-level tombstones cannot express
    // "resurrect" (clearing the marker would revive the OLD resident row
    // too); re-inserting a deleted id requires [[compact]] first, and this
    // guard makes the ordering mistake loud. The probe is one bounded
    // semi-join of the delta against the compact-bounded store.
    Tombstones.read(delta.sparkSession, path).foreach { t =>
      val clash = delta.join(t.select(col("id").as("__tomb_id")),
        col(idCol) === col("__tomb_id"), "left_semi").limit(1).count()
      require(clash == 0L,
        "IvfIndex.append: delta contains tombstoned ids — they would stay " +
          "hidden behind their tombstones (a silent lost insert); compact " +
          "the layout first")
    }
    assign(delta, idCol, vecCol, model, metric)
      .write.mode("append").partitionBy("list_id").parquet(path)
  }

  /** Physically purge the layout's tombstoned rows ([[Tombstones]] — the
    * delete face: ids marked deleted, data files untouched) and clear the
    * tombstone store, in one list-partitioned rewrite through
    * [[Bucketed.compactWith]] — the scaffold every stored layout compacts
    * through (fence, purge, then clear; the fingerprint stays in the
    * sidecar). Searches before
    * compact (anti-join exclusion) and after (purged files) answer
    * identically — pinned by `pipeline_forget` and TombstonesSpec. */
  def compact(spark: SparkSession, path: String, idCol: String): Unit =
    Bucketed.compactWith(spark, path, spark.read.parquet(path), Some(idCol),
      { live =>
        // an all-tombstoned layout would compact to an EMPTY partitioned
        // write, which spark.read.parquet cannot infer a schema from — a
        // stamped but unreadable layout. Fail loudly BEFORE touching any
        // file (LayoutUntouched completes the fence: nothing changed, the
        // layout keeps serving and accepting takedowns): deleting the last
        // row is a rebuild/decommission decision, not a compaction.
        if (live.isEmpty)
          throw new Tombstones.LayoutUntouched(
            s"IvfIndex.compact: every row of $path is tombstoned — an empty " +
              "rewrite would leave an unreadable layout; rebuild (or retire) " +
              "the layout instead of compacting it")
        live
      })(_.write.mode("overwrite").partitionBy("list_id").parquet(path))

  /** Quantizer-drift metric — the signal a deployment schedules index
    * rebuilds by (the append-ingest invariant: deltas encode against the
    * STORED model, so once the corpus has drifted from the fit, rebuild):
    * the fraction of corpus vectors whose nearest centroid changed between
    * two fits. Centroids are compared BY VALUE (the assigned centroid
    * vectors), not by list_id, so a relabeled-but-identical centroid set
    * reports zero drift and a genuinely moved centroid always counts —
    * for re-fits that keep most centroids (the deterministic-seed case,
    * where centroids are corpus vectors) this is exactly "would this
    * vector's inverted list move". Output: (n_vectors, n_changed,
    * drift_e6), drift_e6 = round(1e6·changed/n).
    *
    * Scale shape: both argmin assignments are literal-centroid projections
    * fused into ONE corpus scan ([[assign]] twice on the same frame); the
    * centroid-vector attach is two broadcast joins of `lists`-row tables;
    * the result is a single aggregate. No shuffle touches the corpus. */
  def assignmentDrift(corpus: DataFrame, idCol: String, vecCol: String,
      oldModel: Model, newModel: Model, metric: Metric): DataFrame = {
    val a = assign(corpus, idCol, vecCol, oldModel, metric)
      .withColumnRenamed("list_id", "__lid_old")
    val b = assign(a, idCol, vecCol, newModel, metric)
    val withC = b
      .join(broadcast(oldModel.centroids.select(
        col("list_id").as("__lid_old"),
        col("centroid").cast("array<double>").as("__c_old"))), "__lid_old")
      .join(broadcast(newModel.centroids.select(
        col("list_id"),
        col("centroid").cast("array<double>").as("__c_new"))), "list_id")
    withC
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("__c_old") === col("__c_new"), 0L).otherwise(1L))
          .as("n_changed"))
      .select(col("n_vectors"), col("n_changed"),
        graft.functions.ExactRound.roundDiv(
          col("n_changed") * lit(1000000L), col("n_vectors")).as("drift_e6"))
  }

  /** Probe-pruned ANN top-k. `indexed` must already carry `list_id`
    * (from [[assign]] or a partitioned read).
    *
    * Filtered search passes the filtered layout: `indexed.filter(pred)`
    * over the list-partitioned read of a [[write]] layout that carries the
    * predicate's metadata columns (the reference's Qdrant surface takes a
    * `Filter` on the same call, `skills_for_jobs.py:20`). The filter lands
    * on the scan side of the probe join, so the parquet scan reads only
    * the probed partitions' files (the probes reach it as a
    * DynamicPruningExpression on `list_id`) and drops failing rows before
    * any distance work; ranking over the survivors is exact, so quality
    * degrades only by probe choice, never by post-k truncation. That
    * pruning is why the probe side keeps its `row_number` Filter
    * ([[probeLists]]).
    *
    * `excludeIds`: optional tombstone set ([[Tombstones.read]]) whose ids
    * are dropped from the candidates — the delete-aware serving face. The
    * anti-join sits AFTER the probe join, not on the scan side: an
    * anti-join directly above the list-partitioned scan would break the
    * DynamicPruningExpression partition pruning the probe join induces
    * (DPP's scan-side pattern sees through filters and projects only,
    * never joins), while here the scan stays DPP-pruned and the
    * compact-bounded tombstone side rides a broadcast anti-join over the
    * already-pruned candidate stream — deleted rows drop BEFORE any
    * distance work. */
  def search(queries: DataFrame, queryIdCol: String, queryVecCol: String,
      indexed: DataFrame, idCol: String, vecCol: String,
      model: Model, k: Int, nProbe: Int, metric: Metric,
      excludeIds: Option[DataFrame] = None): DataFrame = {
    val probes = probeLists(
      queries.select(col(queryIdCol), col(queryVecCol).as("__qvec")),
      queryIdCol, "__qvec", model, nProbe, metric, "__qvec")
    val cands = probeJoin(probes, indexed, idCol, col(vecCol).as("__cvec"),
      excludeIds)
      .select(col(queryIdCol),
        metric.dist(col("__qvec"), col("__cvec")).as("dist"),
        col("__cid"))
    KnnJoin.topkOfCandidates(cands, queryIdCol, idCol, k)
  }

  /** The probe ranking of every IVF search ([[search]],
    * [[PqIndex.searchIvf]]): per query, the `nProbe` nearest centroids of
    * `model` to the `qvecCol` column of `queries`, ties to the lowest
    * list_id. Output: (queryIdCol, keep…, list_id).
    *
    * The ranking is a `row_number` window over the broadcast centroid
    * cross, not [[probeAssign]]'s filter-free projection, on purpose:
    * Spark's `PartitionPruning` adds the `list_id` DynamicPruningExpression
    * to the layout scan only when the probe side carries a selective
    * Filter, and the `__pick <= nProbe` filter is that Filter (PlanSpec
    * pins the pruning). */
  private[operators] def probeLists(queries: DataFrame, queryIdCol: String,
      qvecCol: String, model: Model, nProbe: Int, metric: Metric,
      keep: String*): DataFrame = {
    val wProbe = Window.partitionBy(col(queryIdCol)).orderBy(col("__cdist"), col("list_id"))
    queries.join(broadcast(model.centroids))
      .withColumn("__cdist", metric.dist(col(qvecCol), col("centroid")))
      .withColumn("__pick", row_number().over(wProbe))
      .filter(col("__pick") <= nProbe)
      .select((queryIdCol +: keep :+ "list_id").map(col): _*)
  }

  /** The probe join of every IVF search: broadcast `probes` ⋈ the
    * (`__cid`, `payload`, list_id) projection of `indexed` on `list_id`,
    * then the tombstone anti-join on `__cid` (see [[search]] for why it
    * sits above the join). */
  private[operators] def probeJoin(probes: DataFrame, indexed: DataFrame,
      idCol: String, payload: Column,
      excludeIds: Option[DataFrame]): DataFrame = {
    val c = indexed.select(KnnJoin.keyColumn(indexed, idCol), payload, col("list_id"))
    val joined = broadcast(probes).join(c, "list_id")
    excludeIds.map(Tombstones.excludeIds(joined, col("__cid"), _)).getOrElse(joined)
  }
}
