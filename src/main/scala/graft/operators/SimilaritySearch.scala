package graft.operators

import org.apache.spark.sql.DataFrame
import graft.functions.VectorFunctions.{L2, Metric}

/** Batch similarity search over any embedding column — one logical operation
  * (top-k nearest per query), five physical strategies, mirroring how the
  * reference exposes one search call per backend with different index types
  * behind it (`skills_for_jobs.py:73-173`).
  *
  *  - [[BruteForce]]: exact bounded-heap scan ([[KnnJoin.exact]]) — the
  *    baseline and the verifier for the approximate paths.
  *  - [[Ivf]]: KMeans coarse quantizer + probe-pruned search
  *    ([[IvfIndex]]) — the 100 TB path: candidates come from nProbe/lists
  *    of the corpus, and the index persists as a partitioned table.
  *  - [[Lsh]]: random-projection bucket join ([[LshIndex]]), L2 only.
  *  - [[Graph]]: NSW beam search over the kNN edge list, optionally with
  *    the HNSW hierarchy layer ([[GraphSearch]]).
  *  - [[Pq]]: product-quantized ADC scan, optionally exact-refined
  *    ([[PqIndex]]), L2 only.
  *
  * All strategies return the same shape: (queryIdCol, idCol, rank 1..k,
  * dist), ties broken on (dist, id).
  */
object SimilaritySearch {

  sealed trait Strategy
  case object BruteForce extends Strategy
  /** nProbe = lists degrades to exact search. */
  case class Ivf(lists: Int, nProbe: Int, kmeansIter: Int = 20, seed: Long = 42L)
    extends Strategy
  /** `dim` = vector dimensionality (fixes the md5-derived plane literals). */
  case class Lsh(dim: Int, bucketLength: Double, numTables: Int = 3)
    extends Strategy
  /** NSW walk over a degree-`degree` kNN graph; `layerMod` > 1 turns on
    * the HNSW hierarchy (1/layerMod upper-layer sample picks per-query
    * entry points — [[GraphSearch.hierarchicalSearch]]). The edge build
    * here is the exact generator; a deployment passes a STORED edge table
    * through [[GraphSearch.beamSearchStored]] instead. */
  case class Graph(degree: Int, hops: Int, beam: Int, layerMod: Int = 1)
    extends Strategy
  /** Product-quantized ADC scan ([[PqIndex]], L2 only): `m` subspaces ×
    * `ksub` centroids, `overfetch` > 0 adds the exact re-rank of the
    * k·overfetch ADC shortlist ([[PqIndex.searchRefined]]) — the
    * memory-bound tier, where a corpus row costs m byte-code lookups
    * instead of a d-dim scan. */
  case class Pq(m: Int, ksub: Int, overfetch: Int = 0) extends Strategy

  def topK(queries: DataFrame, queryIdCol: String, queryVecCol: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, metric: Metric, strategy: Strategy = BruteForce): DataFrame =
    strategy match {
      case BruteForce =>
        KnnJoin.exact(queries, queryIdCol, queryVecCol, corpus, idCol, vecCol, k, metric)
      case Ivf(lists, nProbe, iter, seed) =>
        require(nProbe >= 1 && nProbe <= lists, s"nProbe $nProbe outside [1, $lists]")
        val model = IvfIndex.fitKMeans(corpus, vecCol, lists, iter, seed)
        val indexed = IvfIndex.assign(corpus, idCol, vecCol, model, metric)
        IvfIndex.search(queries, queryIdCol, queryVecCol, indexed, idCol, vecCol,
          model, k, nProbe, metric)
      case Lsh(dim, bucketLength, tables) =>
        require(metric == L2, "LSH strategy supports the L2 metric only")
        LshIndex.annTopK(queries, queryIdCol, queryVecCol, corpus, idCol, vecCol,
          k, dim, bucketLength, tables)
      case Pq(m, ksub, overfetch) =>
        require(metric == L2, "PQ strategy supports the L2 metric only")
        val model = PqIndex.fitSeeds(corpus, idCol, vecCol, m, ksub)
        val enc = PqIndex.encode(corpus, idCol, vecCol, model)
        if (overfetch <= 0)
          PqIndex.search(queries, queryIdCol, queryVecCol, enc, idCol, model, k)
        else
          PqIndex.searchRefined(queries, queryIdCol, queryVecCol, enc, corpus,
            idCol, vecCol, model, k, overfetch)
      case Graph(degree, hops, beam, layerMod) =>
        val edges = PageRank.symmetrize(PageRank.directedKnnEdges(
          corpus.select(corpus(idCol), corpus(vecCol)), idCol, vecCol,
          degree, metric))
        if (layerMod <= 1)
          GraphSearch.beamSearch(queries, queryIdCol, queryVecCol, corpus,
            idCol, vecCol, edges, hops, beam, k, metric)
        else
          GraphSearch.hierarchicalSearch(queries, queryIdCol, queryVecCol,
            corpus, idCol, vecCol, edges, hops, beam, k, layerMod,
            upperDegree = degree, upperHops = math.max(2, hops / 2),
            upperBeam = math.max(4, beam / 4), nEntries = 4, metric = metric)
    }

  /** Streaming face: a stream of query vectors searched against the static
    * corpus per micro-batch — the serving half of the reference's
    * request/response search loop expressed as Structured Streaming
    * ([[graft.streaming.MicroBatch]], because top-k needs batch-only
    * operators). Per batch the work is O(|batch| × corpus-scan-of-strategy)
    * with the batch side broadcast — queries never shuffle the corpus, so
    * micro-batch latency tracks batch size, not corpus size, under IVF/LSH.
    * Results for each micro-batch equal the batch [[topK]] of the same rows
    * (asserted in SimilaritySearchSpec). */
  def topKStream(queryStream: DataFrame, queryIdCol: String, queryVecCol: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, metric: Metric, strategy: Strategy = BruteForce)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.MicroBatch.start(queryStream) { (batch, batchId) =>
      sink(topK(batch, queryIdCol, queryVecCol, corpus, idCol, vecCol, k,
        metric, strategy), batchId)
    }

  /** Streaming face of [[IvfIndex.search]] over a STORED IVF layout: a
    * stream of query vectors searched per micro-batch against `stored`
    * (the list-partitioned read of an [[IvfIndex.write]] layout, filtered
    * by the caller for filtered search) — the serving loop of a vector
    * store (same [[graft.streaming.MicroBatch]] bridge as [[topKStream]]:
    * top-k needs batch-only operators). Per batch the
    * probes prune the layout's partitions exactly like the batch face, so
    * micro-batch latency tracks batch size and probed-partition size,
    * never corpus size; results per micro-batch equal the batch
    * [[IvfIndex.search]] of the same rows (asserted in
    * SimilaritySearchSpec). */
  def topKIvfStream(queryStream: DataFrame, queryIdCol: String,
      queryVecCol: String, stored: DataFrame, idCol: String, vecCol: String,
      model: IvfIndex.Model, k: Int, nProbe: Int, metric: Metric,
      excludeIds: Option[DataFrame] = None)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.MicroBatch.start(queryStream) { (batch, batchId) =>
      sink(IvfIndex.search(batch, queryIdCol, queryVecCol, stored, idCol,
        vecCol, model, k, nProbe, metric, excludeIds), batchId)
    }
}
