package graft

import graft.Pipeline.Config
import graft.functions.VectorFunctions.Cosine

/** End-to-end reference workload: embed → index → search → eval → report →
  * CSV, on reference-shaped skills/jobs tables. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(3)
  private val words = Seq("joins", "spark", "python", "sql", "etl", "cloud",
    "batch", "stream", "model", "data", "query", "infra", "ml", "ops")
  private def sentence(n: Int): String = Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")

  private lazy val skills = (1 to 40)
    .map(i => (f"SK$i%02d", s"Skill $i", 1 + i % 5, sentence(12)))
    .toDF("abbreviation", "title", "level", "level_description")
  private lazy val jobs = (1 to 8)
    .map(i => (f"J$i%02d", sentence(25)))
    .toDF("job_code", "gpt_job_description")

  test("runAll: build index, search, evaluate, write report") {
    val base = java.nio.file.Files.createTempDirectory("pipeline").toString
    val cfg = Config(dim = 64, k = 5, lists = 2, nProbe = 2)
    val res = Pipeline.runAll(spark, skills, jobs, s"$base/idx", s"$base/report", cfg)

    // ranked: ≤ k rows per job, contiguous ranks, deduped levels
    val ranked = res.ranked.collect()
    val byJob = ranked.groupBy(_.getString(0))
    assert(byJob.size == 8)
    byJob.values.foreach { g =>
      assert(g.length <= 5)
      val levels = g.map(_.getAs[Int]("level"))
      assert(levels.distinct.length == levels.length)
    }

    // eval: nProbe = lists ⇒ the ANN path IS exact ⇒ recall 1.0
    val rec = res.recall.head()
    assertNear(rec.getAs[Double]("avg_recall"), 1.0)
    assert(rec.getAs[Long]("n_queries") == 8L)
    val sim = res.similarity.head()
    assert(sim.getAs[Double]("avg_avg_sim") > 0.0)

    // report: wide pivot with the reference's column layout
    assert(res.report.columns.toSeq ==
      "job" +: (0 until 5).flatMap(i => Seq(s"skill$i", s"level$i")))
    assert(res.report.count() == 8)

    // K2 CSV sink: one part file with header
    val csvFiles = new java.io.File(s"$base/report").listFiles()
      .filter(_.getName.endsWith(".csv"))
    assert(csvFiles.length == 1)
    val lines = scala.io.Source.fromFile(csvFiles.head).getLines().toSeq
    assert(lines.head.startsWith("job,skill0,level0,"))
    assert(lines.size == 9) // header + 8 jobs
  }

  test("reference-format CSV inputs flow through the whole pipeline") {
    val base = java.nio.file.Files.createTempDirectory("pipecsv").toString
    val skillRows = (1 to 20).map(i =>
      s"S$i,Skill $i,${1 + i % 3},${sentence(10)}").mkString("\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$base/skills.csv"),
      "abbreviation,title,level,level_description\n" + skillRows + "\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$base/jobs.csv"),
      "job_code,gpt_job_description\nJA," + sentence(20) + "\nJB," + sentence(20) + "\n")
    val skills = graft.io.Tables.skillsCsv(spark, s"$base/skills.csv")
    val jobs = graft.io.Tables.jobsCsv(spark, s"$base/jobs.csv")
    val cfg = Config(dim = 32, k = 3, lists = 2, nProbe = 2)
    val res = Pipeline.runAll(spark, skills, jobs, s"$base/idx", s"$base/report", cfg)
    assert(res.report.count() == 2)
    assert(res.recall.head().getAs[Double]("avg_recall") == 1.0) // nProbe = lists
  }

  test("buildIndex stamps its model: append under a re-fitted model throws, under the build model succeeds") {
    import graft.operators.IvfIndex
    val path = java.nio.file.Files.createTempDirectory("pipestamp").toString + "/idx"
    val cfg = Config(dim = 32, k = 3, lists = 2, nProbe = 2)
    val model = Pipeline.buildIndex(skills, cfg, path, seeded = true)
    val extra = Seq(("SKX1", "Skill X", 2, sentence(12)))
      .toDF("abbreviation", "title", "level", "level_description")
    val delta = Pipeline.embed(extra, "abbreviation", "level_description", cfg.dim)
      .join(extra.select("abbreviation", "level"), "abbreviation")
    val refit = IvfIndex.fitKMeans(
      Pipeline.embed(skills, "abbreviation", "level_description", cfg.dim),
      "embedding", cfg.lists)
    intercept[IllegalArgumentException] {
      IvfIndex.append(delta, "abbreviation", "embedding", refit, cfg.metric, path)
    }
    IvfIndex.append(delta, "abbreviation", "embedding", model, cfg.metric, path)
    assert(spark.read.parquet(path).count() == skills.count() + 1)
  }

  test("prepareTrainingData: junk filtered, dup clusters collapse, survivors chunk and pack") {
    import org.apache.spark.sql.functions.col
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base),                       // kept: cluster rep of {1,2,3}
      (2L, base),                       // exact dup of 1 → dropped
      (3L, base + " extra"),            // near dup of 1 → dropped
      (4L, "one two three four five six seven"), // kept, unrelated
      (5L, "tiny doc"),                 // < minTokens → cleaned out
      (6L, "spam spam spam spam spam spam spam spam")) // repetitive → cleaned out
      .toDF("doc_id", "text")
    val td = Pipeline.prepareTrainingData(docs, "doc_id", "text",
      Pipeline.TrainingConfig(window = 4, stride = 3, packGroups = 2, packBudget = 8))
    assert(td.cleaned.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
    assert(td.kept.select("doc_id").as[Long].collect().toSet == Set(1L, 4L))
    val clusters = td.clusters.as[(Long, Long)].collect().toMap
    assert(clusters(2L) == 1L && clusters(3L) == 1L && clusters(4L) == 4L)
    // doc 1: 10 tokens, window 4 stride 3 → starts 1,4,7,10 → 4 chunks
    assert(td.chunks.filter(col("doc_id") === 1L).count() == 4L)
    assert(td.chunks.filter(col("doc_id") === 2L).count() == 0L) // dropped docs never chunk
    // packing covers exactly the kept docs
    assert(td.shards.select("doc_id").as[Long].collect().toSet == Set(1L, 4L))
  }

  test("prepareTrainingData: a second batch of the same shape compiles no new classes") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // Each batch op reruns the same plans on new input. If Spark's
    // generated-code cache evicted the first batch's classes, the second
    // would recompile them (Tuning's codegen.cache.maxEntries).
    def batch(seed: Int) = {
      val r = new scala.util.Random(seed)
      val ws = (0 until 60).map(i => s"w$i")
      def text(n: Int) = Seq.fill(n)(ws(r.nextInt(ws.size))).mkString(" ")
      val orig = (1L to 30L).map(i => (i, text(12 + r.nextInt(8))))
      val dups = orig.take(6).map { case (i, t) => (100L + i, t + " extra") }
      (orig ++ dups).toDF("doc_id", "text")
    }
    def run(seed: Int): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val td = Pipeline.prepareTrainingData(batch(seed), "doc_id", "text")
      Seq(td.clusters, td.chunks, td.shards)
        .foreach(_.write.format("noop").mode("overwrite").save())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    // With AQE on, whether a join stage plans as a broadcast or a sort-merge
    // join can depend on which shuffle stage finishes first, so a plan
    // variant may first appear in the second batch. Static plans make the
    // set of classes the same for every batch; this pins the cache.
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val first = run(1)
      assert(first > 0, "the first batch compiles the pipeline's classes")
      assert(run(2) == 0L, s"the second batch recompiled classes (first compiled $first)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("prepareTrainingData: each call adds exactly 3 Caches entries") {
    // The per-doc hash projection, the Jaccard join's df-ordered doc sets
    // and `kept`; nothing else may register per call.
    def call(tag: String): Int = {
      val docs = (1L to 12L).map(i =>
        (i, s"$tag ${(0L until 6L + i).map(j => s"w${(i * j) % 17}").mkString(" ")}"))
        .toDF("doc_id", "text")
      val before = Caches.size
      Pipeline.prepareTrainingData(docs, "doc_id", "text",
        Pipeline.TrainingConfig(maxRepRatio = 1.0))
      Caches.size - before
    }
    val tag = java.util.UUID.randomUUID.toString.replace("-", "")
    assert(call(s"a$tag") == 3)
    assert(call(s"b$tag") == 3)
  }

  test("prepareTrainingData: quality filter equals a local recompute at the gram-width edges") {
    val cfg = Pipeline.TrainingConfig(minTokens = 2)
    val n = cfg.gramN
    val docs = Seq(
      1L -> "alpha beta",                       // gramN - 1 tokens: no grams
      2L -> "alpha beta gamma",                 // exactly gramN tokens: one gram
      3L -> "spam spam spam",                   // gramN copies of one token
      4L -> "spam spam spam spam spam spam",    // one token repeated: 4 grams, 1 distinct
      5L -> "a b c d a b c",                    // 5 grams, 4 distinct: ratio 0.2
      6L -> "a b c a b c a",                    // 5 grams, 3 distinct: ratio 0.4
      7L -> "Spam spam",                        // case folds: below gramN
      8L -> "solo",                             // below the token floor
      9L -> "")
    // The former definition: total grams from the token count, distinct
    // grams counted over the gram strings.
    val want = docs.flatMap { case (id, text) =>
      val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      val ng = if (toks.size >= n) toks.size - (n - 1) else 0
      val nd = toks.sliding(n).filter(_.size == n).toSet.size
      val ratio = if (ng == 0) 0.0
        else BigDecimal((ng - nd).toDouble / ng)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (toks.size >= cfg.minTokens && ratio <= cfg.maxRepRatio)
        Some(id -> toks.size.toLong) else None
    }.toMap
    val td = Pipeline.prepareTrainingData(docs.toDF("doc_id", "text"), "doc_id", "text", cfg)
    val got = td.cleaned.select("doc_id", "n_tokens").as[(Long, Long)].collect().toMap
    assert(want.keySet == Set(1L, 2L, 3L, 5L, 7L))
    assert(got == want)
  }

  test("index persists partitioned by list_id and searches from disk") {
    val base = java.nio.file.Files.createTempDirectory("pipeline2").toString
    val cfg = Config(dim = 32, k = 3, lists = 2, nProbe = 1)
    val model = Pipeline.buildIndex(skills, cfg, s"$base/idx")
    assert(new java.io.File(s"$base/idx").listFiles()
      .exists(_.getName.startsWith("list_id=")))
    val res = Pipeline.skillsForJobs(spark, jobs, s"$base/idx", model, cfg)
    // probe-pruned search still returns k rows per job (lists are balanced enough)
    assert(res.ranked.groupBy("job_code").count().collect().forall(_.getLong(1) >= 1))
    // partial probing may miss exact neighbors → recall ≤ 1 but defined
    val r = res.recall.head().getAs[Double]("avg_recall")
    assert(r >= 0.0 && r <= 1.0)
  }

  test("rebuildOnDrift: identical re-fit keeps the stored layout; a moved quantizer rebuilds into the new path") {
    import graft.operators.IvfIndex
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.filter($"vec_id" >= 20)
      .select($"vec_id".as("cid"), $"embedding".cast("array<double>").as("cvec"))
    val base = java.nio.file.Files.createTempDirectory("reb").toString
    val stored = IvfIndex.fitSeeds(corpus, "cid", "cvec", 4)
    IvfIndex.write(IvfIndex.assign(corpus, "cid", "cvec", stored, Cosine),
      s"$base/idx", stored, Cosine)
    // zero drift (candidate == stored fit): the scheduler must NOT rebuild
    // and the serving pointer must stay on the stored layout
    val same = Pipeline.rebuildOnDrift(corpus, "cid", "cvec", stored,
      IvfIndex.fitSeeds(corpus, "cid", "cvec", 4), Cosine,
      s"$base/idx", s"$base/idx2", thresholdE6 = 1L)
    assert(!same.rebuilt && same.servingPath == s"$base/idx")
    assert(same.drift.head().getAs[Long]("drift_e6") == 0L)
    assert(!new java.io.File(s"$base/idx2").exists())
    // a genuinely moved quantizer (fit excludes the two lowest ids —
    // ivf_drift_summary's scenario): drift above threshold ⇒ rebuild,
    // serve the NEW layout, old layout untouched on disk
    val moved = IvfIndex.fitSeeds(corpus.filter($"cid" >= 22L), "cid", "cvec", 4)
    val reb = Pipeline.rebuildOnDrift(corpus, "cid", "cvec", moved, // stored-era model
      IvfIndex.fitSeeds(corpus, "cid", "cvec", 4), Cosine,
      s"$base/idx", s"$base/idx3", thresholdE6 = 100000L)
    assert(reb.rebuilt && reb.servingPath == s"$base/idx3")
    assert(new java.io.File(s"$base/idx3").listFiles()
      .exists(_.getName.startsWith("list_id=")))
    // the rebuilt layout serves the candidate model's assignment exactly
    val back = spark.read.parquet(s"$base/idx3")
    val want = IvfIndex.assign(corpus, "cid", "cvec", reb.servingModel, Cosine)
    assert(back.select($"cid", $"list_id".cast("int")).as[(Long, Int)].collect().toSet ==
      want.select($"cid", $"list_id".cast("int")).as[(Long, Int)].collect().toSet)
  }

  test("serving pointer survives a restart: a fresh session reads WHICH layout serves") {
    import graft.operators.IvfIndex
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.filter($"vec_id" >= 20)
      .select($"vec_id".as("cid"), $"embedding".cast("array<double>").as("cvec"))
    val base = java.nio.file.Files.createTempDirectory("rebptr").toString
    val stored = IvfIndex.fitSeeds(corpus.filter($"cid" >= 22L), "cid", "cvec", 4)
    IvfIndex.write(IvfIndex.assign(corpus, "cid", "cvec", stored, Cosine),
      s"$base/idx", stored, Cosine)
    val candidate = IvfIndex.fitSeeds(corpus, "cid", "cvec", 4)
    // no-rebuild branch first: the pointer must record the STORED layout
    val keep = Pipeline.rebuildOnDrift(corpus, "cid", "cvec", stored, stored,
      Cosine, s"$base/idx", s"$base/idx2", thresholdE6 = 1L,
      pointerPath = Some(s"$base/ptr"))
    assert(!keep.rebuilt &&
      Pipeline.readServingPointer(spark, s"$base/ptr") == s"$base/idx")
    // drift fires: the rebuild swaps the pointer to the NEW layout
    val reb = Pipeline.rebuildOnDrift(corpus, "cid", "cvec", stored, candidate,
      Cosine, s"$base/idx", s"$base/idx2", thresholdE6 = 100000L,
      pointerPath = Some(s"$base/ptr"))
    assert(reb.rebuilt && reb.servingPath == s"$base/idx2")
    // RESTART: a fresh session (no Scala state from the loop above) reads
    // the pointer from disk and serves the rebuilt layout — the search it
    // runs equals the search over the layout the loop said it swapped to
    val s2 = spark.newSession()
    val served = Pipeline.readServingPointer(s2, s"$base/ptr")
    assert(served == s"$base/idx2")
    val q = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".cast("array<double>").as("qvec"))
    def top(s: org.apache.spark.sql.SparkSession, path: String) =
      IvfIndex.search(q, "qid", "qvec", s.read.parquet(path), "cid", "cvec",
        candidate, 5, 2, Cosine)
        .select($"qid", $"cid", $"rank").as[(Long, Long, Long)].collect().toSet
    assert(top(s2, served) == top(spark, reb.servingPath))
    // malformed pointer (committed version with 2 rows) fails loudly
    // instead of serving an arbitrary layout
    spark.range(2).selectExpr("cast(id as string) as serving_path",
      "true as rebuilt").write.mode("overwrite").parquet(s"$base/bad/v=1")
    intercept[IllegalArgumentException] {
      Pipeline.readServingPointer(spark, s"$base/bad")
    }
    // an UNCOMMITTED version (no _SUCCESS — a crashed swap) is invisible:
    // readers keep resolving the last committed pointer, never nothing
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$base/ptr"))
      .filter(_.getPath.getName.startsWith("v=")).map(_.getPath)
    val next = vs.map(_.getName.stripPrefix("v=").toInt).max + 1
    val crashed = new org.apache.hadoop.fs.Path(s"$base/ptr/v=$next")
    fs.mkdirs(crashed) // a torn write: directory exists, no commit marker
    assert(Pipeline.readServingPointer(spark, s"$base/ptr") == s"$base/idx2")
    // and a pointer path with NO committed version at all fails loudly
    intercept[IllegalArgumentException] {
      Pipeline.readServingPointer(spark, s"$base/never")
    }
  }
}
