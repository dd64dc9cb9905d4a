package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.VectorFunctions.Metric

/** Exact top-k nearest-neighbor join (SURVEY.md §2.5 J2/J3, §2.9 W1).
  *
  * Rebuilds the reference's per-job top-10 semantic search loop
  * (`skills_for_jobs.py:416-433` fanning into the five `*_search` functions)
  * as one distributed join. Two physical forms, same results:
  *
  *  - [[exactWindow]]: cross join → distance → `row_number()` window, the
  *    literal shape of the DuckDB oracle SQL. Nothing pins the query side,
  *    so at scale the planner may pick a cartesian product — fine for
  *    tests, wrong at 100 TB.
  *
  *  - [[exact]] (default): broadcast the small query side, compute distances
  *    map-side, then rank with `row_number() ≤ k`, which plans as a
  *    map-side WindowGroupLimit — each task keeps at most k candidates per
  *    query before the exchange, so the shuffle is |Q|×k×partitions
  *    instead of |Q|×|C|. This is the form that survives a 1000-executor
  *    corpus scan.
  *
  * One scoring pass serves both rankings the reference derives from a
  * query: ranks order by (dist, id), so the top-k is exactly ranks 1..k of
  * the top-k·f overfetch. A caller that needs the plain top-k and the
  * deduped one ([[graft.Pipeline.skillsForJobs]]) runs [[exact]] once at
  * k·f, filters `rank ≤ k` for the first and feeds the same frame to
  * [[dedupByKey]] for the second, instead of scoring |Q|×|C| twice.
  *
  * Ties break deterministically on (dist, id) in both forms and in the DuckDB
  * oracle, making rank order reproducible across engines. The id column keeps
  * its own type end-to-end: integral ids order numerically, string ids (the
  * reference's `abbreviation` key) order lexically — matching how the same
  * ORDER BY behaves in the oracle engine. Unsupported id types fail fast.
  *
  * Ordering note: the reference's pg queries say `ORDER BY score DESC`
  * (`skills_for_jobs.py:150,363`), which is farthest-first — a reference bug
  * (at `:150` the alias even binds to the raw embedding column). We implement
  * the *intended* nearest-first semantics (`orderBy(asc(dist))`), as every
  * other backend in the reference does; parity audits should expect this
  * deliberate divergence (SURVEY.md §2.9 W3).
  *
  * Output: (queryIdCol, idCol, rank long 1..k, dist double). Corpus metadata
  * columns are intentionally not carried through the ranking — join them
  * back on idCol after the top-k (k rows per query) instead of shipping
  * them through the shuffle.
  */
object KnnJoin {

  /** Normalize the corpus id to the ranking key column "__cid". Integral
    * types widen to long; strings pass through; anything else is a hard
    * error (never a silent NULL-producing cast). */
  private[operators] def keyColumn(corpus: DataFrame, idCol: String): Column =
    corpus.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        col(idCol).cast(LongType).as("__cid")
      case StringType => col(idCol).as("__cid")
      case other => throw new IllegalArgumentException(
        s"KnnJoin: id column '$idCol' has unsupported type $other " +
          "(supported: integral types, string)")
    }

  /** Rank pre-scored candidates to the top `k` per query id (rank 1..k,
    * dist ascending, ties by id). `cands` must carry (queryIdCol, "__cid"
    * key from [[keyColumn]], "dist"). Shared tail of [[exact]] and every
    * index search.
    *
    * Physical form: `row_number() ≤ k` plans as Spark's WindowGroupLimit
    * (SPARK-37099, on since 3.5 for k below
    * `spark.sql.optimizer.windowGroupLimitThreshold` = 1000), which keeps
    * a bounded PER-GROUP top-k on the MAP side of the exchange — the
    * shuffle stays O(groups·partitions·k) and the rows stay native
    * UnsafeRows end to end, with no object aggregation buffers. Ties order
    * by (dist, id) ascending, numeric or lexical by the id's own type —
    * the same ORDER BY the oracle runs. */
  private[graft] def topkOfCandidates(cands: DataFrame, queryIdCol: String,
      idCol: String, k: Int): DataFrame = {
    // CONTRACT (r16 verdict note): the map-side WindowGroupLimit only
    // fires for k BELOW spark.sql.optimizer.windowGroupLimitThreshold
    // (default 1000). A caller passing k >= 1000 still gets correct rows
    // but silently loses the bounded map-side heap — the full candidate
    // stream ranks post-shuffle (the rank-everything callers, e.g. a
    // rank-all-visited walk test, accept exactly that). Raise the
    // threshold knob alongside any production k >= 1000.
    val w = Window.partitionBy(col(queryIdCol)).orderBy(col("dist"), col("__cid"))
    cands
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .select(col(queryIdCol),
        col("__cid").as(idCol),
        col("__rn").cast("long").as("rank"),
        col("dist"))
  }

  /** Scale-first exact k-NN: broadcast(queries) ⋈ corpus → map-side
    * distance → [[topkOfCandidates]]' map-side WindowGroupLimit per query
    * id → ranked rows. */
  def exact(
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, metric: Metric): DataFrame = {
    val q = broadcast(queries.select(col(queryIdCol), col(queryVecCol).as("__qvec")))
    val c = corpus.select(keyColumn(corpus, idCol), col(vecCol).as("__cvec"))
    val cands = q.join(c)
      .select(col(queryIdCol),
        metric.dist(col("__qvec"), col("__cvec")).as("dist"),
        col("__cid"))
    topkOfCandidates(cands, queryIdCol, idCol, k)
  }

  /** Radius search: ALL corpus rows within `radius` of each query — the
    * range-query face of the vector stores' search API (top-k's sibling:
    * no heap, no rank; the cheapest possible shape, broadcast + map-side
    * distance + filter, nothing shuffles at all). Output:
    * (queryIdCol, idCol, dist), dist ≤ radius. */
  def withinRadius(
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      radius: Double, metric: Metric): DataFrame = {
    val q = broadcast(queries.select(col(queryIdCol), col(queryVecCol).as("__qvec")))
    val c = corpus.select(col(idCol), col(vecCol).as("__cvec"))
    q.join(c)
      .select(col(queryIdCol), col(idCol),
        metric.dist(col("__qvec"), col("__cvec")).as("dist"))
      .filter(col("dist") <= radius)
  }

  /** Oracle-shaped exact k-NN: cross join + window rank. Semantically identical
    * to [[exact]]; kept as the reference implementation for tests and as the
    * direct counterpart of the DuckDB oracle SQL. */
  def exactWindow(
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, metric: Metric): DataFrame = {
    val q = queries.select(col(queryIdCol), col(queryVecCol).as("__qvec"))
    val c = corpus.select(keyColumn(corpus, idCol), col(vecCol).as("__cvec"))
    val w = Window.partitionBy(col(queryIdCol)).orderBy(col("dist"), col("__cid"))
    q.crossJoin(c)
      .withColumn("dist", metric.dist(col("__qvec"), col("__cvec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col("__cid").as(idCol), col("rank"), col("dist"))
  }

  /** J3 — the reference's exact-NN oracle pattern: overfetch k×overfetchFactor,
    * deduplicate by a metadata key first-wins in rank order, re-rank, keep k.
    * Pattern site: `skills_for_jobs.py:356-387` (`LIMIT k*10` at `:363`, dedup
    * loop `:372-379`) — minus its `ORDER BY … DESC` direction bug; we rank
    * ascending nearest-first on purpose (see object Scaladoc). */
  def exactDedupByKey(
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      corpus: DataFrame, idCol: String, vecCol: String, dedupKeyCol: String,
      k: Int, metric: Metric, overfetchFactor: Int = 10): DataFrame =
    dedupByKey(exact(queries, queryIdCol, queryVecCol, corpus, idCol, vecCol,
      k * overfetchFactor, metric), queryIdCol, corpus, idCol, dedupKeyCol, k)

  /** D1 over an already-ranked frame `over` (an [[exact]] output): join each
    * row's `dedupKeyCol` from `corpus`, keep the first row per (query, key)
    * in rank order, re-rank contiguously and keep k — so one overfetch can
    * also serve the plain top-k (see the object Scaladoc). Output:
    * (queryIdCol, idCol, dedupKeyCol, rank long 1..k, dist). */
  def dedupByKey(over: DataFrame, queryIdCol: String, corpus: DataFrame,
      idCol: String, dedupKeyCol: String, k: Int): DataFrame = {
    val withKey = over.join(
      corpus.select(keyColumn(corpus, idCol).as(idCol), col(dedupKeyCol)), Seq(idCol))
    val wKey = Window.partitionBy(col(queryIdCol), col(dedupKeyCol)).orderBy(col("rank"))
    val wRerank = Window.partitionBy(col(queryIdCol)).orderBy(col("rank"))
    withKey
      .withColumn("__first", row_number().over(wKey))
      .filter(col("__first") === 1)
      .withColumn("new_rank", row_number().over(wRerank).cast("long"))
      .filter(col("new_rank") <= k)
      .select(col(queryIdCol), col(idCol), col(dedupKeyCol),
        col("new_rank").as("rank"), col("dist"))
  }
}
