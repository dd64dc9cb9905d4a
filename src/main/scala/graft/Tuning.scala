package graft

import org.apache.spark.sql.SparkSession

/** Scale-adaptive session defaults shared by every entry point (Bench,
  * Verify, tools) — r16/r17 optimization rounds, guide §2.2/§2.5.
  *
  * The engine leans on two kinds of materialized frames: `.cache()`d
  * operator state ([[Caches]]) and per-hop/per-round `localCheckpoint`s.
  * With AQE's default `canChangeCachedPlanOutputPartitioning=false`, a
  * cached plan is materialized WITHOUT partition coalescing, so a
  * kilobyte-sized shared frame (an edge list, a BM25 postings table, a
  * walk's visited set) is pinned at `spark.sql.shuffle.partitions`
  * partitions — and every downstream scan pays one task per partition
  * forever. Measured on the graph-walk family at sf0.1×32 cores: 611 →
  * 114 tasks and 350 → 13 task-seconds for eval_graph_recall, wall
  * 41 s → 19 s, purely from letting AQE size cached plans.
  *
  * The knob is size-driven (AQE reads the actual shuffle statistics at
  * runtime), so it is the opposite of a local[32] tune: at 100 TB large
  * cached frames keep `advisoryPartitionSizeInBytes` chunks and only the
  * genuinely tiny ones collapse.
  *
  * r17 note: r16 additionally shipped
  * `coalescePartitions.parallelismFirst=false`, which coalesces post-
  * shuffle partitions by BYTES alone. That serialized this engine's
  * compute-dense/tiny-byte stages (PQ ADC scans, OPQ rotation fits, MMR
  * per-round scoring) onto ONE partition — the r16 driver measured
  * pq_refine_topk/knn_mmr_lambda1/pq_opq_recall at ~32× their r15 times,
  * i.e. full serialization. The stock default (`parallelismFirst=true`,
  * never coalescing below defaultParallelism) is the correct posture for
  * CPU-dense stages at any scale, so the knob is REMOVED.
  *
  * r17 note 2: lowering `coalescePartitions.minPartitionSize` globally
  * (1m → 64k) was A/B-measured and REJECTED: it spreads the jaccard
  * family's MB-scale compute stages nicely (pairs 6.0 → 2.7 s) but
  * un-coalesces the per-hop/per-round KB-scale cached frames the first
  * knob exists to shrink — the graph family lost every r16 gain
  * (6-query board 31.9 → 52.2 s). Compute-dense small-byte stages get
  * explicit `repartition` at the operator instead (the PageRank edge-
  * build pattern), which states intent where the byte heuristic can't
  * see it.
  *
  * Generated-code cache: Spark keeps compiled whole-stage and expression
  * classes in one JVM-wide cache, keyed by source code and compiling
  * class loader (the driver's and the executor threads' copies of a
  * class are two entries), capped by the static conf
  * `spark.sql.codegen.cache.maxEntries` (default 100). A batch op reruns
  * the same plans on new input, so every class the cap evicted is
  * recompiled by Janino on every op. Measured with the perfbench
  * workloads (seed 11, 4 cores) by counting
  * `CodegenMetrics.METRIC_COMPILATION_TIME` around each op:
  * `skills_match` (`Pipeline.skillsForJobs` + CSV report, after the
  * index load) compiles 224 classes per run, `train_prep`
  * (`Pipeline.prepareTrainingData`) 123–127. At the default cap a
  * steady-state op recompiled 81–83 classes (0.50–0.66 s of a ~2.3 s
  * `skills_match` op) and 81–98 (0.6–1.2 s, `train_prep`). At 1000 it
  * compiles 2 and 0, plus a few classes the first time AQE picks another
  * join plan. The 2 left come from `jobs.limit(maxJobs)`: Spark names a
  * limit's counter `_limit_counter_<N>` with a fresh N per plan
  * instance, so a class containing a limit never matches an earlier one.
  * 1000 is a fixed value that holds one pipeline op with room to spare;
  * the whole query board (4,846 classes in one `Verify` at sf0.01) does
  * not fit, see the warm-up note in [[Bench]]. A static conf only takes
  * effect when set on the builder before the first codegen, which is
  * where this runs.
  *
  * Overridable per-run via `SPARK_GRAFT_TUNE=off` (diagnostic escape
  * hatch: compare plans with stock defaults).
  */
object Tuning {
  def apply(b: SparkSession.Builder): SparkSession.Builder =
    if (sys.env.get("SPARK_GRAFT_TUNE").contains("off")) b
    else b
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_MINPART", "1m"))
      .config("spark.sql.codegen.cache.maxEntries", "1000")
}
