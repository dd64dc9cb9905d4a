package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.L2

/** X2 — random-projection LSH ANN search, the batch analog of the
  * reference's HNSW L2 index build + search (`load_skill_vectors_milvus.py:
  * 53-68`, `milvus_search:117-143`). An online graph index is out of scope
  * (BASELINE.json); a bucketed projection join gives the same contract —
  * approximate L2 neighbors with tunable recall — and only hash-colliding
  * pairs are ever compared, never |Q|×|C|.
  *
  * Planes come from [[RpLsh]] (md5-derived, constants shared with the DuckDB
  * oracle), so unlike the earlier MLlib BucketedRandomProjectionLSH build the
  * whole search result is hash-checkable cross-engine — the reference's own
  * methodology for every ANN backend (`skills_for_jobs.py:354-387`).
  */
object LshIndex {

  /** Approximate L2 top-k per query: bucket-collision candidates (AND over
    * `numPlanes` projections per table, OR over `numTables` hash tables) →
    * exact L2 on candidates only → bounded-heap top-k (shuffle
    * |Q|·k·partitions, same reduce shape as [[KnnJoin.exact]]). Corpus
    * buckets larger than `maxBucket` are dropped before the join
    * ([[Salt.capBuckets]]) — a constant-ish vector region otherwise feeds one
    * reducer |bucket|×|colliding queries| rows. Queries that collide with
    * nothing return no rows — the LSH contract. Ties break on (dist, id).
    * Output: (queryIdCol, idCol, rank, dist). */
  def annTopK(queries: DataFrame, queryIdCol: String, queryVecCol: String,
      corpus: DataFrame, idCol: String, vecCol: String, k: Int, dim: Int,
      bucketLength: Double, numTables: Int = 3, numPlanes: Int = 1,
      maxBucket: Long = Dedup.DefaultMaxBucket): DataFrame =
    annTopKOfBuckets(queries, queryIdCol, queryVecCol, corpus, idCol, vecCol,
      Salt.capBuckets(
        RpLsh.bucketize(corpus, idCol, vecCol, dim, bucketLength, numTables, numPlanes),
        Seq("tbl", "bucket"), maxBucket),
      k, dim, bucketLength, numTables, numPlanes)

  /** Persist the corpus's capped bucket table as the stored index: an
    * external table bucketed AND sorted on (tbl, bucket) —
    * [[annTopKStored]]'s probe join then reuses the stored HashPartitioning
    * with no corpus-side exchange, the same write-once/probe-many trade as
    * [[IvfIndex.write]]'s list-partitioned layout.
    *
    * APPEND-MODE contract: an index that will receive [[appendToIndex]]
    * deltas must be built with `maxBucket = Long.MaxValue` (capping
    * DISABLED) and probed with `recapAt` — build-time capping DROPS
    * oversized buckets wholesale, so a capped base is not the full base
    * bucketize and later deltas landing in a dropped bucket would
    * resurface it partially, diverging from a from-scratch capped build of
    * the union. Moving the cap wholly to probe time makes append ∪ base ≡
    * rebuild exact at ANY skew. Build-time capping remains the right
    * default for rebuild-only indexes (smaller layout, no per-probe
    * window). */
  def writeIndex(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
      bucketLength: Double, numTables: Int, numPlanes: Int,
      tableName: String, path: String, numBuckets: Int,
      maxBucket: Long = Dedup.DefaultMaxBucket): Unit = {
    // a fresh build supersedes the path's delete history: its sidecar
    // markers, which the overwrite below does not reach, would otherwise
    // hide the new build's live rows
    Tombstones.clearForRebuild(corpus.sparkSession, path)
    Bucketed.writeBucketedKeys(
      Salt.capBuckets(
        RpLsh.bucketize(corpus, idCol, vecCol, dim, bucketLength, numTables, numPlanes),
        Seq("tbl", "bucket"), maxBucket),
      tableName, path, Seq("tbl", "bucket"), numBuckets)
    graft.Layouts.stampFingerprint(corpus.sparkSession, tableName,
      planeFingerprint(dim, bucketLength, numTables, numPlanes,
        uncapped = maxBucket == Long.MaxValue))
  }

  /** The hash-geometry identity of a stored LSH index (the planes are
    * derived deterministically from these parameters, so the parameters
    * ARE the model) PLUS its capping mode — stamped by [[writeIndex]].
    * [[appendToIndex]] requires the UNCAPPED form (appending to a capped
    * base breaks union ≡ rebuild — see [[writeIndex]]'s append-mode
    * contract), and [[annTopKStored]] reads the mode to demand a
    * probe-time cap on uncapped layouts. A different geometry would land
    * delta entries in meaningless buckets; both mistakes fail loudly. */
  def planeFingerprint(dim: Int, bucketLength: Double, numTables: Int,
      numPlanes: Int, uncapped: Boolean): String =
    s"rplsh|$dim|$bucketLength|$numTables|$numPlanes|" +
      (if (uncapped) "uncapped" else "capped")

  /** [[annTopK]] probing a stored [[writeIndex]] table instead of
    * bucketizing the corpus per query. `corpus` still supplies the vectors
    * (the index stores only the bucket entries). Identical output to
    * [[annTopK]] with the same parameters — the stored query shares
    * `lsh_ann_topk`'s oracle verbatim.
    *
    * `recapAt`: for an index that has received [[appendToIndex]] deltas,
    * pass the bucket cap here — appends are written uncapped (capping is a
    * skew guard, not index semantics, and a delta batch can't know the
    * union bucket sizes), so the probe re-applies the cap over the union at
    * read time. None (the default) keeps the build-time-capped fast path:
    * no extra window over the index.
    *
    * Filtered search passes the filtered corpus (`corpus.filter(pred)`;
    * the reference's filter surface is tier-agnostic,
    * `skills_for_jobs.py:20`). The bucket index itself stays
    * predicate-free (one stored layout serves EVERY filter), so the
    * predicate lands at the corpus VECTOR scan: bucket-colliding candidate
    * ids that fail it simply drop out of the vector-lookup join before any
    * distance work, and the exact-L2 ranking runs over survivors only.
    * Quality therefore degrades only by hash-collision recall, never by
    * post-k truncation. At 100 TB the predicate is pushed into the corpus
    * parquet scan (PushedFilters) while the candidate set stays
    * bucket-bounded. */
  def annTopKStored(queries: DataFrame, queryIdCol: String, queryVecCol: String,
      corpus: DataFrame, idCol: String, vecCol: String, indexTable: String,
      k: Int, dim: Int, bucketLength: Double, numTables: Int,
      numPlanes: Int, recapAt: Option[Long] = None): DataFrame = {
    // An UNCAPPED layout (the append-mode build; the stamp carries the
    // mode from build time, so the guard holds before the first append
    // too) has no build-time skew guard — probing it cap-less would
    // quietly re-expose the quadratic fat-bucket join the cap exists to
    // prevent. Fail loudly instead of serving an un-guarded layout.
    val uncappedStored = graft.Layouts
      .readFingerprint(queries.sparkSession, indexTable)
      .exists(_.endsWith("|uncapped"))
    require(recapAt.nonEmpty || !uncappedStored,
      s"LshIndex.annTopKStored: $indexTable is an uncapped (append-mode) " +
        "layout — probe it with recapAt (the probe-time skew guard)")
    val stored = queries.sparkSession.table(indexTable)
    val cb = recapAt.map(Salt.capBuckets(stored, Seq("tbl", "bucket"), _))
      .getOrElse(stored)
    annTopKOfBuckets(queries, queryIdCol, queryVecCol, corpus, idCol, vecCol,
      cb, k, dim, bucketLength, numTables, numPlanes)
  }

  /** O(delta) ingest for a stored [[writeIndex]] table (the daily-crawl
    * path): hash ONLY the delta rows against the SAME deterministic
    * projection planes (derived from md5 constants — the planes ARE the
    * stored model) and append their bucket entries into the bucketed
    * layout. The base corpus is never re-read or re-hashed — the same
    * contract as [[JaccardIndex]]'s incremental ingest. Delta entries are
    * written UNCAPPED: the cap is a probe-time skew guard
    * ([[annTopKStored]]'s `recapAt`), because a delta batch cannot know
    * union bucket sizes without scanning the base — re-capping at write
    * would make ingest O(corpus). Rebuild equivalence: bucketize is
    * row-local, so base ∪ delta entries equal a from-scratch bucketize of
    * the union corpus exactly — PROVIDED the base was built uncapped,
    * which the fingerprint check ENFORCES (a capped base stamps `capped`
    * and mismatches; capping dropped oversized buckets wholesale, so
    * appending into one would resurface it partially). Gated by
    * `lsh_index_append` / `lsh_ann_appended_topk`. */
  def appendToIndex(delta: DataFrame, idCol: String, vecCol: String, dim: Int,
      bucketLength: Double, numTables: Int, numPlanes: Int,
      tableName: String, numBuckets: Int): Unit = {
    graft.Layouts.checkFingerprint(delta.sparkSession, tableName,
      planeFingerprint(dim, bucketLength, numTables, numPlanes, uncapped = true),
      "LshIndex.appendToIndex")
    Bucketed.appendBucketedKeys(
      RpLsh.bucketize(delta, idCol, vecCol, dim, bucketLength, numTables, numPlanes),
      tableName, Seq("tbl", "bucket"), numBuckets)
  }

  /** Compact an appended bucket table: re-write the same entries through
    * the bucketed layout in one pass (the [[SpanDedup.compactIndex]]
    * pattern; the build stamp stays in the layout's sidecar). Each append adds a
    * file per bucket, so a long append history degrades probe scan
    * efficiency; compaction bounds it while changing nothing a probe sees
    * (gated by `lsh_index_compact`, which shares the append oracle). */
  def compactIndex(spark: SparkSession, tableName: String,
      numBuckets: Int): Unit =
    Bucketed.compactTable(spark, tableName, Seq("tbl", "bucket"),
      numBuckets)(identity)

  /** Physical purge of tombstoned ids ([[Tombstones]] — the delete face):
    * drop the deleted ids' bucket entries in one rewrite, then clear the
    * markers, [[IvfIndex.compact]]'s hash-table sibling. Until this runs,
    * delete-aware serving passes the live (anti-joined) corpus as
    * [[annTopKStored]]'s vector side — markers now, purge at compaction,
    * the Lucene delete model. */
  def purgeDeleted(spark: SparkSession, tableName: String, idCol: String,
      numBuckets: Int): Unit =
    Bucketed.compactTable(spark, tableName, Seq("tbl", "bucket"),
      numBuckets, purgeIdCol = Some(idCol))(identity)

  /** Multi-probe variant of [[annTopK]]: the query side probes its own
    * grid cell plus every single-coordinate ±1 neighbor
    * ([[RpLsh.bucketizeProbes]]), recovering near-boundary misses without
    * adding hash tables — probes multiply only the broadcast-sized query
    * buckets, never the corpus index, so at 100 TB this is the recall dial
    * that costs (1 + 2·numPlanes)× query rows instead of another full
    * corpus hash table. Also probes stored [[writeIndex]] layouts when
    * `indexTable` is given (same probe join, stored bucket side). */
  def annTopKMultiProbe(queries: DataFrame, queryIdCol: String,
      queryVecCol: String, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, dim: Int, bucketLength: Double, numTables: Int = 3,
      numPlanes: Int = 1, maxBucket: Long = Dedup.DefaultMaxBucket,
      indexTable: Option[String] = None): DataFrame = {
    val cb = indexTable match {
      case Some(t) => queries.sparkSession.table(t)
      case None => Salt.capBuckets(
        RpLsh.bucketize(corpus, idCol, vecCol, dim, bucketLength, numTables,
          numPlanes), Seq("tbl", "bucket"), maxBucket)
    }
    annTopKOfBuckets(queries, queryIdCol, queryVecCol, corpus, idCol, vecCol,
      cb, k, dim, bucketLength, numTables, numPlanes,
      qbOverride = Some(RpLsh.bucketizeProbes(queries, queryIdCol, queryVecCol,
        dim, bucketLength, numTables, numPlanes)))
  }

  private def annTopKOfBuckets(queries: DataFrame, queryIdCol: String,
      queryVecCol: String, corpus: DataFrame, idCol: String, vecCol: String,
      cb: DataFrame, k: Int, dim: Int, bucketLength: Double, numTables: Int,
      numPlanes: Int, qbOverride: Option[DataFrame] = None): DataFrame = {
    val qb = qbOverride.getOrElse(
      RpLsh.bucketize(queries, queryIdCol, queryVecCol, dim, bucketLength,
        numTables, numPlanes))
    val candIds = qb.join(cb, Seq("tbl", "bucket"))
      .select(col(queryIdCol), col(idCol)).distinct()
    val keyCol = KnnJoin.keyColumn(corpus, idCol)
    val qv = queries.select(col(queryIdCol), col(queryVecCol).as("__qvec"))
    val cv = corpus.select(keyCol, col(vecCol).as("__cvec"))
    val cands = candIds
      .join(broadcast(qv), Seq(queryIdCol))
      .join(cv, col(idCol) === col("__cid"))
      .select(col(queryIdCol),
        L2.dist(col("__qvec"), col("__cvec")).as("dist"),
        col("__cid"))
    KnnJoin.topkOfCandidates(cands, queryIdCol, idCol, k)
  }
}
