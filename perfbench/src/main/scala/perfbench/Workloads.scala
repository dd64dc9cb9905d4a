package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import graft.{Caches, Pipeline}
import graft.functions.{CleanFunctions, TextFunctions}
import graft.operators._

/** One workload: set-up, the op a user runs (through `graft.Pipeline`), the
  * same op split into its layers (each layer called one by one, with the
  * calls `Pipeline` composes, and its output materialised), and a
  * comparison of two ops' outputs.
  *
  * Batches: 0 is the held-out op of a traced run, 1 to `warmups` the
  * warm-up ops, the rest the measured ops. Ops keep getting faster for the
  * first few after a cold start while the JIT compiles the engine's hot
  * paths.
  */
abstract class Workload(val spark: SparkSession, val p: Params, val data: String,
    val work: String, val tracer: Tracer, val traced: Boolean) {
  val heldOutBatch = 0
  def warmups: Int
  def warmupBatches: Seq[Int] = 1 to warmups
  def measuredBatches: Seq[Int] = warmups + 1 until p.int("batches")

  /** Set-up; returns the timed parts in seconds: `first_op_s`, the first
    * warm-up op, which a user waits for after a cold start, and `warmup_s`,
    * the other warm-up ops, which only steady the measured ops. */
  def setup(): Map[String, Any]
  def op(i: Int, batch: Int, dir: String): Map[String, Any]
  def tracedOp(i: Int, batch: Int, dir: String): Map[String, Any]
  /** Whether two op output directories hold the same rows. */
  def sameOutputs(a: String, b: String): Boolean

  /** Engine state after an op, read outside its timed window. */
  def afterOp(): Map[String, Any] = Map(
    "cache_entries" -> Caches.size,
    "storage_mb" -> spark.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1e6)

  protected def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  protected def span[T](op: Int, name: String)(body: => T): T = tracer.span(op, name)(body)

  /** Compute every column of `df` and discard it. */
  protected def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  protected def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
}

object Workload {
  def apply(name: String, spark: SparkSession, p: Params, data: String,
      work: String, tracer: Tracer, traced: Boolean): Workload = name match {
    case "skills_match" => new SkillsMatch(spark, p, data, work, tracer, traced)
    case "train_prep" => new TrainPrep(spark, p, data, work, tracer, traced)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def dataFiles(path: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(path))
  }

  /** Rows the index scans of an executed plan emitted: scans whose output
    * carries the IVF `list_id` partition column, found through adaptive
    * stages and through the plans of in-memory caches built by the run. */
  def indexRowsScanned(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => indexRowsScanned(a.executedPlan)
    case q: QueryStageExec => indexRowsScanned(q.plan)
    case s: InMemoryTableScanExec =>
      if (s.output.exists(_.name == "list_id")) s.metrics("numOutputRows").value
      else indexRowsScanned(s.relation.cachedPlan)
    case s: FileSourceScanExec if s.output.exists(_.name == "list_id") =>
      s.metrics("numOutputRows").value
    case o => o.children.map(indexRowsScanned).sum
  }
}

/** Entry points B and C: set-up loads the skills index (a build, delta
  * appends and a compaction: the write path), then each op matches one jobs
  * batch against it (the read path). */
final class SkillsMatch(spark: SparkSession, p: Params, data: String, work: String,
    tracer: Tracer, traced: Boolean) extends Workload(spark, p, data, work, tracer, traced) {
  val cfg = Pipeline.Config(dim = p.int("dim"), k = p.int("k"),
    lists = p.int("lists"), nProbe = p.int("probes"))
  val indexPath = s"$work/index"
  private val skillsAll = spark.read.parquet(s"$data/skills.parquet")
  def part(i: Int): DataFrame = skillsAll.filter(col("part") === i).drop("part")
  def jobs(b: Int): DataFrame = spark.read.parquet(f"$data/jobs/$b%05d.parquet").drop("batch")
  var model: IvfIndex.Model = _
  val loadRepeats = 3
  // the repeated loads already run the embedder, the parquet paths and the
  // scheduler hot; one op warms the search side
  def warmups: Int = 1

  /** Centroids in list_id order. */
  private def centroids(m: IvfIndex.Model): Seq[Seq[Double]] =
    m.centroids.orderBy("list_id").collect().map(_.getSeq[Double](1)).toSeq

  private def withLevel(skills: DataFrame, vectors: DataFrame): DataFrame =
    vectors.join(skills.select(col("abbreviation"), col("level")), "abbreviation")

  /** [[Pipeline.buildIndex]] over part 0, each delta part through
    * [[Pipeline.embed]] + [[IvfIndex.append]], then [[IvfIndex.compact]]. */
  private def load(): IvfIndex.Model = {
    val m = Pipeline.buildIndex(part(0), cfg, indexPath)
    for (d <- 1 to p.int("deltas")) {
      val delta = part(d)
      IvfIndex.append(withLevel(delta, Pipeline.embed(delta, "abbreviation",
        "level_description", cfg.dim)), "abbreviation", "embedding", m, cfg.metric, indexPath)
    }
    IvfIndex.compact(spark, indexPath, "abbreviation")
    m
  }

  /** [[load]] one layer at a time. */
  private def tracedLoad(op: Int): IvfIndex.Model = {
    val base = part(0)
    val vectors = span(op, "Embedder") {
      withLevel(base, Pipeline.embed(base, "abbreviation", "level_description", cfg.dim))
        .localCheckpoint()
    }
    val m = span(op, "IvfIndex.fit") { IvfIndex.fitKMeans(vectors, "embedding", cfg.lists) }
    span(op, "IvfIndex.write") {
      IvfIndex.write(IvfIndex.assign(vectors, "abbreviation", "embedding", m, cfg.metric), indexPath)
    }
    val files = Workload.dataFiles(indexPath)
    tracer.count(op, "IvfIndex.write.files", files.size)
    tracer.count(op, "IvfIndex.write.bytes", files.map(_.length).sum)
    for (d <- 1 to p.int("deltas")) {
      val delta = part(d)
      val dv = span(op, "Embedder") {
        withLevel(delta, Pipeline.embed(delta, "abbreviation", "level_description", cfg.dim))
          .localCheckpoint()
      }
      span(op, "IvfIndex.append") {
        IvfIndex.append(dv, "abbreviation", "embedding", m, cfg.metric, indexPath)
      }
    }
    span(op, "IvfIndex.compact") { IvfIndex.compact(spark, indexPath, "abbreviation") }
    m
  }

  def setup(): Map[String, Any] = {
    // the load is repeated so its time is a median, not one cold sample; a
    // traced run splits each load into layers, as set-up ops -1, -2, ...
    val loads = (1 to loadRepeats).map(r => timed {
      model = if (traced) tracedLoad(-r) else load()
    }._2)
    // the first warm-up op is the control: probes = lists makes the ANN
    // search exact, so its recall must be 1
    val (control, first) = timed(run(warmupBatches.head, s"$work/warmup",
      cfg.copy(nProbe = cfg.lists)))
    val rest = warmupBatches.tail.map(b => timed(op(-1, b, s"$work/warmup$b"))._2)
    Map("load_s" -> loads, "first_op_s" -> first, "warmup_s" -> rest,
      "control_recall" -> control("recall_at_10"), "centroids" -> centroids(model))
  }

  def op(i: Int, batch: Int, dir: String): Map[String, Any] = run(batch, dir, cfg)

  private def run(batch: Int, dir: String, cfg: Pipeline.Config): Map[String, Any] = {
    val r = Pipeline.skillsForJobs(spark, jobs(batch), indexPath, model, cfg)
    Report.writeCsvReport(r.report, s"$dir/report")
    val rec = r.recall.collect().head
    val sim = r.similarity.collect().head
    Map("items" -> p.int("jobs_per_batch"),
      "recall_at_10" -> rec.getAs[Any]("avg_recall").toString.toDouble,
      "best_sim" -> sim.getAs[Any]("avg_avg_sim").toString.toDouble)
  }

  /** [[Pipeline.skillsForJobs]] + the report sink, one layer at a time. */
  def tracedOp(i: Int, batch: Int, dir: String): Map[String, Any] = {
    val indexed = Caches.cached(spark.read.parquet(indexPath))
    val jobVecs = span(i, "Embedder") {
      val v = Caches.cached(Pipeline.embed(jobs(batch).limit(cfg.maxJobs),
        "job_code", "gpt_job_description", cfg.dim))
      materialize(v)
      v
    }
    val ann = span(i, "IvfIndex.search") {
      val a = Caches.cached(IvfIndex.search(jobVecs, "job_code", "embedding",
        indexed, "abbreviation", "embedding", model, cfg.k, cfg.nProbe, cfg.metric))
      materialize(a)
      a
    }
    tracer.count(i, "IvfIndex.search.index_rows", Workload.indexRowsScanned(ann.queryExecution.executedPlan))
    val exact = span(i, "KnnJoin.exact") {
      val e = Caches.cached(KnnJoin.exact(jobVecs, "job_code", "embedding",
        indexed, "abbreviation", "embedding", cfg.k, cfg.metric))
      materialize(e)
      e
    }
    val ranked = span(i, "KnnJoin.dedup") {
      KnnJoin.exactDedupByKey(jobVecs, "job_code", "embedding",
        indexed, "abbreviation", "embedding", "level", cfg.k, cfg.metric).localCheckpoint()
    }
    val (rec, sim) = span(i, "Eval") {
      val recall = Eval.recallSummary(Eval.recallAtK(ann, exact, "job_code", "abbreviation"))
      val vecs = indexed.select(col("abbreviation"), col("embedding"))
      val hits = ann.join(vecs, "abbreviation")
      val best = exact.filter(col("rank") === 1).join(vecs, "abbreviation")
        .select(col("job_code"), col("embedding"))
      val similarity = Eval.similaritySummary(
        Eval.bestVectorSimilarity(hits, best, "job_code", "embedding"))
      (recall.collect().head, similarity.collect().head)
    }
    span(i, "Report") {
      Report.writeCsvReport(Report.pivotTopK(ranked, "job_code", "rank", cfg.k,
        Seq("abbreviation" -> "skill", "level" -> "level")), s"$dir/report")
    }
    Map("items" -> p.int("jobs_per_batch"),
      "recall_at_10" -> rec.getAs[Any]("avg_recall").toString.toDouble,
      "best_sim" -> sim.getAs[Any]("avg_avg_sim").toString.toDouble)
  }

  def sameOutputs(a: String, b: String): Boolean = {
    def read(d: String) = spark.read.option("header", "true").csv(s"$d/report")
    sameRows(read(a), read(b))
  }
}

/** The LLM-data north star: one `prepareTrainingData` call per shard. */
final class TrainPrep(spark: SparkSession, p: Params, data: String, work: String,
    tracer: Tracer, traced: Boolean) extends Workload(spark, p, data, work, tracer, traced) {
  def docs(b: Int): DataFrame =
    spark.read.parquet(f"$data/documents/$b%05d.parquet").drop("batch")
  val cfg = Pipeline.TrainingConfig()
  // the first op after a cold start runs three times slower than the rest,
  // the second a little slower
  def warmups: Int = 2

  def setup(): Map[String, Any] = {
    val walls = warmupBatches.map(b => timed(op(-1, b, s"$work/warmup$b"))._2)
    Map("first_op_s" -> walls.head, "warmup_s" -> walls.tail)
  }

  private def write(td: Pipeline.TrainingData, dir: String): Unit = {
    td.clusters.write.mode("overwrite").parquet(s"$dir/clusters")
    td.chunks.write.mode("overwrite").parquet(s"$dir/chunks")
    td.shards.write.mode("overwrite").parquet(s"$dir/shards")
  }

  def op(i: Int, batch: Int, dir: String): Map[String, Any] = {
    write(Pipeline.prepareTrainingData(docs(batch), "doc_id", "text", cfg), dir)
    Map("items" -> p.int("docs_per_batch"))
  }

  /** [[Pipeline.prepareTrainingData]] and the output sinks, one layer at a
    * time. */
  def tracedOp(i: Int, batch: Int, dir: String): Map[String, Any] = {
    val (id, text) = ("doc_id", "text")
    val d = docs(batch)
    val sh = span(i, "Dedup.shingle") {
      val s = Dedup.shingleHashes(d, id, text, cfg.gramN)
      materialize(s)
      s
    }
    val cleaned = span(i, "TextFunctions") {
      val toks = TextFunctions.tokens(col(text))
      val totals = d.select(col(id), col(text),
        size(toks).cast("long").as("__nt"),
        when(size(toks) >= cfg.gramN, size(toks) - (cfg.gramN - 1))
          .otherwise(0).cast("long").as("__ng"))
      val dis = sh.groupBy(id).agg(count(lit(1)).as("__nd"))
      val c = Caches.cached(totals.join(dis, Seq(id), "left")
        .filter(col("__nt") >= cfg.minTokens &&
          CleanFunctions.repetitionRatio(
            col("__ng"), coalesce(col("__nd"), lit(0L))) <= cfg.maxRepRatio)
        .select(col(id), col(text), col("__nt").as("n_tokens")))
      materialize(c)
      c
    }
    val pairs = span(i, "Dedup.jaccard") {
      Dedup.jaccardJoin(cleaned, id, text, cfg.gramN, cfg.minJaccard)
        .select("a_id", "b_id").localCheckpoint()
    }
    val clusters = span(i, "Dedup.cc") {
      val c = Dedup.connectedComponents(pairs, cleaned.select(col(id)), id)
      c.write.mode("overwrite").parquet(s"$dir/clusters")
      c
    }
    span(i, "Sequencer") {
      val kept = Caches.cached(cleaned.join(clusters, id)
        .filter(col(id) === col("cluster_id"))
        .select(col(id), col(text), col("n_tokens")))
      Sequencer.chunkWindows(kept, id, text, cfg.window, cfg.stride)
        .write.mode("overwrite").parquet(s"$dir/chunks")
      Sequencer.packTokenShards(kept.select(col(id), col("n_tokens")),
        id, "n_tokens", cfg.packGroups, cfg.packBudget)
        .write.mode("overwrite").parquet(s"$dir/shards")
    }
    tracer.count(i, "Dedup.jaccard.pairs", pairs.count())
    Map("items" -> p.int("docs_per_batch"))
  }

  def sameOutputs(a: String, b: String): Boolean =
    Seq("clusters", "chunks", "shards").forall(t =>
      sameRows(spark.read.parquet(s"$a/$t"), spark.read.parquet(s"$b/$t")))
}
