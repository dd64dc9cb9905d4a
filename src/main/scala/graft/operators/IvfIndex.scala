package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
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
      metric: Metric): DataFrame = {
    val cents = model.centroids
      .select(col("list_id").cast("int"), col("centroid").cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    require(cents.nonEmpty, "IvfIndex.assign: model has no centroids")
    val scored = cents.map { case (i, c) =>
      struct(metric.dist(col(vecCol), lit(c.toArray)).as("d"), lit(i).as("list_id"))
    }
    corpus.withColumn("list_id",
      element_at(array_sort(array(scored.toSeq: _*)), 1).getField("list_id"))
  }

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
    val cents = model.centroids
      .select(col("list_id").cast("int"), col("centroid").cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    require(cents.nonEmpty, "IvfIndex.probeAssign: model has no centroids")
    val scored = cents.map { case (i, c) =>
      struct(metric.dist(col(vecCol), lit(c.toArray)).as("d"), lit(i).as("list_id"))
    }
    df.withColumn("list_id", explode(
      slice(array_sort(array(scored.toSeq: _*)), 1, nProbe).getField("list_id")))
  }

  /** Canonical serialization of a centroid table — the ONE implementation
    * both this module's and [[PqIndex]]'s fingerprints build on, so the
    * two stamp formats cannot drift apart. */
  private[operators] def centroidsKey(model: Model): String =
    model.centroids
      .select(col("list_id").cast("int"), col("centroid").cast("array<double>"))
      .collect()
      .map(r => s"${r.getInt(0)}:${r.getSeq[Double](1).mkString(",")}")
      .sorted.mkString(";")

  /** Stable fingerprint of the (centroids, metric) pair a [[write]] layout
    * was assigned under — the path-based sibling of
    * [[PqIndex.modelFingerprint]] (no catalog table here, so the stamp is
    * a `_`-prefixed sidecar file Spark's scans ignore). */
  def modelFingerprint(model: Model, metric: Metric): String =
    graft.Layouts.md5Hex(s"${centroidsKey(model)}|$metric")

  private def fpPath(path: String) =
    new org.apache.hadoop.fs.Path(path, "_graft_model_fp")

  /** Sibling crash net for the fingerprint across [[compact]]'s rewrite
    * (the rewrite deletes the in-layout sidecar with the data files; a
    * kill before the re-write would otherwise leave the layout intact but
    * UNSTAMPED, silently disabling [[append]]'s stale-model guard). */
  private def fpBackupPath(path: String) =
    new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__fp_backup")

  private def readFile(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[String] =
    if (fs.exists(p)) {
      val in = fs.open(p)
      Some(try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close())
    } else None

  private def readFpSidecar(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Option[String] =
    readFile(fs, fpPath(path)).orElse(readFile(fs, fpBackupPath(path)))

  private def writeFile(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private def writeFpSidecar(fs: org.apache.hadoop.fs.FileSystem,
      path: String, fp: String): Unit = {
    writeFile(fs, fpPath(path), fp)
    // the in-layout stamp is authoritative again — retire the crash net
    if (fs.exists(fpBackupPath(path))) fs.delete(fpBackupPath(path), false)
  }

  /** K3-style index materialization: overwrite, partitioned by list_id —
    * `spark.read.parquet(path)` + a `list_id` filter then prunes partitions
    * exactly like ivfflat probes. */
  def write(indexed: DataFrame, path: String): Unit = {
    // a fresh build supersedes the path's delete history — including a
    // stale sibling backup from a CRASHED earlier compaction, which the
    // overwrite below cannot reach (it sits outside the layout path) and
    // which Tombstones.read would otherwise union in against the NEW
    // build's live rows
    Tombstones.clearForRebuild(indexed.sparkSession, path)
    indexed.write.mode("overwrite").partitionBy("list_id").parquet(path)
  }

  /** [[write]] with the assignment model's fingerprint stamped as a
    * sidecar — the append-able form: [[append]] requires the stamp (when
    * present) to match its model, closing the same silent-code-space hole
    * the table-backed indexes close via table properties. */
  def write(indexed: DataFrame, path: String, model: Model,
      metric: Metric): Unit = {
    write(indexed, path)
    val fs = fpPath(path).getFileSystem(
      indexed.sparkSession.sparkContext.hadoopConfiguration)
    writeFpSidecar(fs, path, modelFingerprint(model, metric))
  }

  /** O(delta) ingest for a [[write]] layout: assign ONLY the delta against
    * the STORED model and append into the partitioned files — the plain-IVF
    * face of [[PqIndex.appendToIvfIndex]], same invariant (the model must
    * be the build's; re-fit ⇒ rebuild, scheduled via [[assignmentDrift]]),
    * ENFORCED against the sidecar fingerprint when the build stamped one
    * (builds through the 2-arg [[write]] pass unchecked, preserving
    * compatibility with externally-created layouts). Assign is a pure
    * projection, so the append touches only the delta's list_id
    * partitions. */
  def append(delta: DataFrame, idCol: String, vecCol: String, model: Model,
      metric: Metric, path: String): Unit = {
    val fs = fpPath(path).getFileSystem(
      delta.sparkSession.sparkContext.hadoopConfiguration)
    readFpSidecar(fs, path).foreach { stored =>
      val fp = modelFingerprint(model, metric)
      require(stored == fp,
        s"IvfIndex.append: model does not match the stored layout's build " +
          s"(stored fingerprint $stored, append $fp) — re-fitting requires " +
          "a rebuild, not an append")
    }
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
    * tombstone store, in one rewrite: read the layout, drop tombstoned
    * ids, materialize OFF the layout (`localCheckpoint` — an overwrite of
    * a path while scanning it would read-while-truncate, the
    * [[Bucketed.compactTable]] pattern), rewrite through the same
    * list-partitioned form, and carry the build's model fingerprint
    * across — compaction changes layout, never identity. The overwrite
    * deletes the old data files AND the tombstone side store together, so
    * the cleared-tombstone state can never ship without the purge that
    * justifies it. Searches before compact (anti-join exclusion) and
    * after (purged files) answer identically — pinned by
    * `pipeline_forget` and TombstonesSpec. */
  def compact(spark: SparkSession, path: String, idCol: String): Unit =
    // fence the whole window, marker read included: a takedown racing the
    // rewrite raises (Tombstones.add's check) instead of being destroyed
    Tombstones.fencedRewrite(spark, path) {
      val fs = fpPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val fp = readFpSidecar(fs, path)
      val live = Tombstones.excludeDeleted(
        spark.read.parquet(path), idCol, spark, path).localCheckpoint()
      // an all-tombstoned layout would compact to an EMPTY partitioned
      // write, which spark.read.parquet cannot infer a schema from — a
      // stamped but unreadable layout. Fail loudly BEFORE touching any
      // file (LayoutUntouched completes the fence: nothing changed, the
      // layout keeps serving and accepting takedowns): deleting the last
      // row is a rebuild/decommission decision, not a compaction.
      if (live.limit(1).count() == 0)
        throw new Tombstones.LayoutUntouched(
          s"IvfIndex.compact: every row of $path is tombstoned — an empty " +
            "rewrite would leave an unreadable layout; rebuild (or retire) " +
            "the layout instead of compacting it")
      // stamp the crash net BEFORE the rewrite deletes the in-layout
      // sidecar: a kill in the window re-reads identity from the backup
      // (readFpSidecar's fallback) instead of silently skipping append's
      // stale-model guard
      fp.foreach(writeFile(fs, fpBackupPath(path), _))
      live.write.mode("overwrite").partitionBy("list_id").parquet(path)
      // the purge IS the marker clear (the overwrite deleted the side
      // store); clear() also removes any stale sibling backup a crashed
      // earlier preserve cycle left, which would otherwise resurrect
      // markers whose rows this purge just removed
      Tombstones.clear(spark, path)
      fp.foreach(writeFpSidecar(fs, path, _))
    }

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
    val cents = broadcast(model.centroids)
    val wProbe = Window.partitionBy(col(queryIdCol)).orderBy(col("__cdist"), col("list_id"))
    val probes = queries.select(col(queryIdCol), col(queryVecCol).as("__qvec"))
      .join(cents)
      .withColumn("__cdist", metric.dist(col("__qvec"), col("centroid")))
      .withColumn("__pick", row_number().over(wProbe))
      .filter(col("__pick") <= nProbe)
      .select(col(queryIdCol), col("__qvec"), col("list_id"))
    val keyCol = KnnJoin.keyColumn(indexed, idCol)
    val c = indexed.select(keyCol, col(vecCol).as("__cvec"), col("list_id"))
    val joined = broadcast(probes).join(c, "list_id")
    val live = excludeIds.map(Tombstones.excludeIds(joined, col("__cid"), _))
      .getOrElse(joined)
    val cands = live
      .select(col(queryIdCol),
        metric.dist(col("__qvec"), col("__cvec")).as("dist"),
        col("__cid"))
    KnnJoin.topkOfCandidates(cands, queryIdCol, idCol, k)
  }
}
