package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Session-scoped cache registry: the engine's answer to "who unpersists the
  * operator-internal caches?" (shared shingle indexes, simhash fingerprints,
  * eval top-k frames).
  *
  * Two jobs:
  *  1. '''Memoize by plan identity.''' Operators build a fresh DataFrame per
  *     call; calling `.cache()` on a plan-equal twin makes the CacheManager
  *     warn ("Asked to cache already cached data") and leaves N handles to
  *     one materialization, none of which owns its lifecycle. [[cached]]
  *     returns the FIRST DataFrame registered for a semantically-equal plan,
  *     so the cache is entered exactly once and cross-query sharing (e.g.
  *     jaccard + minhash reading one shingle index) is explicit.
  *  2. '''Release on demand.''' [[clear]] unpersists everything registered —
  *     Bench/Verify call it when a run ends, so a long-lived session (or a
  *     loop over scale-factor dirs) doesn't leak executor storage memory.
  *
  * Entries key on the ANALYZED plan via `sameResult` (canonicalized
  * comparison — alias ids and case differences don't defeat the lookup). The
  * lookup is a linear scan, and the registry is NOT bounded: entries live
  * until [[clear]], and [[Pipeline]] registers 3 new frames per
  * `skillsForJobs` / `prepareTrainingData` call, so a closed loop over
  * batches grows the scan and the executor storage it pins with every call
  * (ROADMAP direction 3 owns scoping these lifetimes).
  */
object Caches {

  private val reg = ArrayBuffer.empty[(LogicalPlan, DataFrame)]

  /** Cache `df`, or return the already-cached DataFrame computing the same
    * result. Lazy like `.cache()` itself — nothing materializes until an
    * action runs. Entries additionally key on the owning SparkSession (by
    * reference): the registry is JVM-global, and without the session check a
    * run that aborted before [[clear]] — or a fresh session started in the
    * same JVM — could be handed a DataFrame bound to a previous, possibly
    * stopped, session. */
  def cached(df: DataFrame): DataFrame = synchronized {
    val plan = df.queryExecution.analyzed
    reg.find { case (p, prior) =>
      (prior.sparkSession eq df.sparkSession) && p.sameResult(plan)
    } match {
      case Some((_, prior)) => prior
      case None =>
        df.cache()
        reg += ((plan, df))
        df
    }
  }

  private val keyed =
    ArrayBuffer.empty[(org.apache.spark.sql.SparkSession, String, DataFrame)]

  /** [[cached]] with an explicit (session, key) identity instead of plan
    * equality — for frames whose plans embed per-call object identities
    * (e.g. a fresh ScalaUDAF instance per `udaf(...)` call), which defeat
    * `sameResult` even though the computation is identical. The builder
    * runs once per key per session; `clear` forgets these too. The session
    * is compared by REFERENCE (`eq`, like [[cached]]'s session check) — an
    * identity-hash key could alias two live sessions on a collision and
    * hand one a plan bound to the other. Linear scan, over entries that
    * live until [[clear]] (see the object doc: the registry is not
    * bounded). */
  def memo(s: org.apache.spark.sql.SparkSession, key: String)(
      build: => DataFrame): DataFrame = synchronized {
    keyed.find { case (sess, k, _) => (sess eq s) && k == key } match {
      case Some((_, _, df)) => df
      case None =>
        val df = cached(build)
        keyed += ((s, key, df))
        df
    }
  }

  /** RDD ids appearing as LogicalRDD leaves in registered frames' plans —
    * the `localCheckpoint` blocks a registered (cached) frame still
    * depends on: if its column buffers are evicted under pressure, the
    * recompute starts FROM those checkpoint blocks, whose lineage is
    * truncated. A storage sweep must never free them. Includes subquery
    * plans for completeness. */
  def protectedRddIds: Set[Int] = synchronized {
    reg.flatMap { case (p, _) =>
      (p +: p.subqueriesAll).flatMap(_.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      })
    }.toSet
  }

  /** Free every locally-checkpointed RDD NOT protected by a registered
    * frame. Operators `localCheckpoint` per-hop/per-round frames (walks,
    * CC loops, MMR rounds) whose blocks otherwise accumulate in the block
    * manager until GC + ContextCleaner get around to them — across a
    * 220+-query bench run that is gigabytes of dead storage competing
    * with live work (the r7 breach class). Cached column buffers are NOT
    * swept (they are persisted, not checkpointed — the filter excludes
    * them); [[Bench]] calls this between queries. */
  def sweepCheckpoints(sc: org.apache.spark.SparkContext): Unit = {
    val keep = protectedRddIds
    sc.getPersistentRDDs.valuesIterator.foreach { rdd =>
      if (org.apache.spark.rdd.GraftRddBridge.isLocallyCheckpointed(rdd) &&
          !keep.contains(rdd.id))
        rdd.unpersist(false)
    }
  }

  /** Unpersist and forget every registered frame (blocking = false: eviction
    * proceeds in the background, callers don't wait on block cleanup). */
  def clear(): Unit = synchronized {
    reg.foreach { case (_, d) => d.unpersist(false) }
    reg.clear()
    keyed.clear() // underlying frames were registered through cached()
  }

  /** Number of live registered caches (test/diagnostic surface). */
  def size: Int = synchronized(reg.size)

  /** Whether a [[memo]] entry is live for (session, key) — test surface for
    * the cold-rerun invalidation pins. */
  def hasMemo(s: org.apache.spark.sql.SparkSession, key: String): Boolean =
    synchronized(keyed.exists { case (sess, k, _) => (sess eq s) && k == key })

  /** Invalidation token over the registry entries created inside one
    * [[mark]]/[[createdSince]] bracket — what [[graft.Bench]] captures per
    * measured query so a breach rerun can drop EXACTLY the memoized state
    * that query's measured pass built (cold for its own builds, warm for
    * everything it inherited — the measured condition replayed; r12 verdict
    * "what's wrong" #1/#2: the producer-skip rule could never clear a load
    * artifact on a producer, and a lazily-memoized consumer re-ran against
    * a warm memo forever). Entries are held by reference: the registries
    * only append between a mark and its invalidate (clear() runs at
    * end-of-run only), but other queries append too, so a watermark alone
    * could not name the victim set after the fact. */
  final class Entries private[Caches] (
      private[Caches] val planDfs: Seq[DataFrame],
      private[Caches] val keyNames: Seq[(org.apache.spark.sql.SparkSession, String)]) {
    def isEmpty: Boolean = planDfs.isEmpty && keyNames.isEmpty
  }

  /** Registry watermark — pair with [[createdSince]]. */
  def mark(): (Int, Int) = synchronized((reg.size, keyed.size))

  /** The entries registered after `m`, as an invalidation token. */
  def createdSince(m: (Int, Int)): Entries = synchronized(
    new Entries(reg.drop(m._1).map(_._2).toSeq,
      keyed.drop(m._2).map { case (s, k, _) => (s, k) }.toSeq))

  /** Unpersist and forget exactly the entries in `e`: the next [[cached]]/
    * [[memo]] touching the same plan/key re-runs its builder from scratch.
    * Non-cascading (like [[clear]]): frames OTHER queries registered on top
    * keep their materialized buffers. */
  def invalidate(e: Entries): Unit = synchronized {
    e.planDfs.foreach(_.unpersist(false))
    reg.filterInPlace { case (_, df) => !e.planDfs.exists(_ eq df) }
    keyed.filterInPlace { case (s, k, _) =>
      !e.keyNames.exists { case (es, ek) => (es eq s) && ek == k } }
  }
}
