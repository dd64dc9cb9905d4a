package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table layout for co-located joins (K4-adjacent; SURVEY.md §6
  * "partitioning & shuffle" posture). The reference re-shuffles on every
  * query because its stores index row-at-a-time; a batch engine instead
  * pre-shuffles ONCE at write time: `bucketBy(n, key)` hashes rows into a
  * fixed number of files per partition, and Spark's bucketed scan exposes
  * that layout as `HashPartitioning(key, n)` — equi-joins and aggregations
  * on `key` between tables bucketed the same way then plan with ZERO
  * Exchange. At 100 TB this converts the recurring O(|fact|) join shuffle
  * into a one-time write cost amortized over every downstream query, the
  * same trade as a clustered index build.
  */
object Bucketed {

  /** Write `df` as a bucketed, bucket-sorted external parquet table at
    * `path`. Re-registers `tableName` (overwrite semantics — K3's
    * truncate-then-load applied to a layout). Sorting within buckets lets
    * sort-merge joins skip the Sort as well when each bucket lands in one
    * file. */
  def writeBucketed(df: DataFrame, tableName: String, path: String,
      key: String, numBuckets: Int): Unit =
    writeBucketedKeys(df, tableName, path, Seq(key), numBuckets)

  /** Multi-column bucketing (e.g. an LSH index laid out on
    * (tbl, bucket)). `partCols` additionally DIRECTORY-partitions the
    * layout (partitionBy + bucketBy compose): point probes then prune to
    * the touched directories — a static `IN` on the partition column
    * reaches the scan's PartitionFilters, so per-batch maintenance reads
    * touched buckets instead of the table (the [[graft.operators.CcLabels]]
    * label store's read-side bound), while the bucketed layout inside
    * each directory keeps full-table aggregations on the keys
    * exchange-free (Spark coalesces same-bucket files across partition
    * directories into one read partition). */
  def writeBucketedKeys(df: DataFrame, tableName: String, path: String,
      keys: Seq[String], numBuckets: Int, partCols: Seq[String] = Nil): Unit = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    require(keys.nonEmpty, "need at least one bucketing key")
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $tableName")
    val w = clusterByBucket(df, keys, numBuckets)
      .write.mode("overwrite").format("parquet")
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .option("path", path)
      .saveAsTable(tableName)
  }

  /** Hash-cluster rows to ONE write task per bucket before a bucketed
    * write (r17; guide §6 output sizing): an unclustered `bucketBy` emits
    * up to (input partitions × buckets) files — every writer task opens a
    * file for every bucket value it holds — which at 100 TB is the classic
    * small-files explosion on the store's one-time build AND on every
    * delta append. `repartition(numBuckets, keys)` uses the same Murmur3
    * hash as the bucket assignment, so each task holds exactly one
    * bucket's rows and each (partition dir, bucket) lands in one file.
    * Row content, bucket membership, and within-bucket sort are untouched
    * — layout only. */
  private def clusterByBucket(df: DataFrame, keys: Seq[String],
      numBuckets: Int): DataFrame =
    df.repartition(numBuckets,
      keys.map(org.apache.spark.sql.functions.col): _*)

  /** Append `df` into an existing bucketed table with the SAME bucket spec
    * (Spark validates the spec against the catalog entry): the delta rows
    * hash into the same bucket files as the base build, so every downstream
    * co-located join/probe keeps its exchange-free plan — the O(delta)
    * ingest half of the write-once trade above. Each append adds at most
    * one file per bucket; periodic compaction ([[compactTable]]) bounds
    * file counts in a long-lived deployment. */
  def appendBucketedKeys(df: DataFrame, tableName: String,
      keys: Seq[String], numBuckets: Int, partCols: Seq[String] = Nil): Unit = {
    val w = clusterByBucket(df, keys, numBuckets)
      .write.mode("append").format("parquet")
    (if (partCols.nonEmpty) w.partitionBy(partCols: _*) else w)
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(tableName)
    // The session caches the table's resolved relation (file listing
    // included); an append from inside a streaming foreachBatch does NOT
    // reliably invalidate it, so a later micro-batch probing the table can
    // read the PRE-append snapshot silently (caught by CdcSpec's streaming
    // ingest test — batch 3 couldn't see batch 2's append). Refresh makes
    // append → probe sequencing correct for every appendable index.
    df.sparkSession.catalog.refreshTable(tableName)
  }

  /** Compact an appendable bucketed table through [[compactWith]]:
    * `merge` of its live rows rewritten through the same bucketed layout
    * at the same location. One definition for the [[CountStore]]s, the
    * LSH-bucket and graph-edge stores and the Jaccard and label tables. */
  def compactTable(spark: SparkSession, tableName: String, keys: Seq[String],
      numBuckets: Int, purgeIdCol: Option[String] = None,
      partCols: Seq[String] = Nil)(
      merge: DataFrame => DataFrame): Unit = {
    val loc = graft.Layouts.location(spark, tableName).get
    compactWith(spark, loc, spark.table(tableName), purgeIdCol, merge)(
      writeBucketedKeys(_, tableName, loc, keys, numBuckets, partCols))
  }

  /** The ONE compaction scaffold for every stored layout at `loc` — the
    * bucketed tables ([[compactTable]]), the IVF-PQ codes table
    * ([[PqIndex.compactIvfIndex]]) and the plain IVF path layout
    * ([[IvfIndex.compact]]): materialize `merge` of the rows `read`
    * returns OFF the layout (an overwrite of its own scan would
    * read-while-truncate), then `rewrite` the location from them. The
    * layout's identity and delete markers live in its sidecar
    * ([[graft.Layouts.sidecar]]), which the rewrite never touches, so a
    * compaction is layout-only by default: fingerprint and [[Tombstones]]
    * stay as they are. Pass `purgeIdCol` to make it a physical purge
    * instead: tombstoned ids are anti-joined out of the rows, and the
    * markers are cleared AFTER the rewrite lands (a purge killed in
    * between serves the same answer from the purged files; its re-run
    * clears them).
    *
    * SINGLE MAINTENANCE WRITER: like every maintenance face here, the
    * rewrite assumes no concurrent mutation of the same layout — an
    * append committed between this method's snapshot reads and its
    * rewrite is lost with the files the rewrite replaces. Quiesce
    * ingestion for the layout across a compaction window; the TAKEDOWN
    * half is fenced ([[Tombstones.fencedRewrite]] brackets this whole
    * body, marker read included): a takedown racing the window raises
    * instead of being silently destroyed. */
  private[operators] def compactWith(spark: SparkSession, loc: String,
      read: => DataFrame, purgeIdCol: Option[String],
      merge: DataFrame => DataFrame)(rewrite: DataFrame => Unit): Unit =
    Tombstones.fencedRewrite(spark, loc) {
      val base = read
      val rows = purgeIdCol match {
        case Some(idCol) => Tombstones.read(spark, loc)
          .fold(base)(Tombstones.excludeIds(base, base(idCol), _))
        case None => base
      }
      rewrite(merge(rows).localCheckpoint())
      if (purgeIdCol.nonEmpty) Tombstones.clear(spark, loc)
    }

  /** Equi-join two tables bucketed on `key` with the same bucket count:
    * both scans report the same HashPartitioning, so the join (and any
    * following aggregation on `key`) plans exchange-free. */
  def coLocatedJoin(spark: SparkSession, leftTable: String, rightTable: String,
      key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)
}
