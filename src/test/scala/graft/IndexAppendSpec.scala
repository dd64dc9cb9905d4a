package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{CompactionKill, IvfIndex, LshIndex, PqIndex, RpLsh}
import graft.functions.VectorFunctions.Cosine

/** O(delta) append-ingest for the stored ANN layouts: the appended table
  * must be indistinguishable from a from-scratch build over the union
  * corpus (the invariant the `pq_index_append` / `lsh_index_append` driver
  * gates replay in SQL), and the assignment-drift metric that schedules
  * rebuilds must be immune to centroid relabeling. */
class IndexAppendSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16
  private def randVecs(seed: Int, n: Int): Seq[(Long, Seq[Double])] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Seq.fill(dim)(rnd.nextGaussian())))
  }

  private lazy val corpus = randVecs(7, 150).toDF("id", "vec")
  // Delta = every fifth row above the seed range: models fit on the base
  // equal full-corpus fits (lowest ids always stay in the base).
  private def splitCorpus: (DataFrame, DataFrame) = {
    val isDelta = pmod(col("id"), lit(5L)) === 3L && col("id") >= 32L
    (corpus.filter(!isDelta), corpus.filter(isDelta))
  }

  private def rows(df: DataFrame): Set[(Long, Seq[Int], Int)] =
    df.select(col("id"), col("codes"), col("list_id").cast("int"))
      .as[(Long, Seq[Int], Int)].collect().toSet

  test("PQ append equals a from-scratch build of the union") {
    val (base, delta) = splitCorpus
    val pqModel = PqIndex.fitSeeds(base, "id", "vec", m = 4, k = 8)
    val ivfModel = IvfIndex.fitSeeds(base, "id", "vec", 4)
    val t1 = "graft_test_pqapp_inc"
    val t2 = "graft_test_pqapp_full"
    PqIndex.writeIvfIndex(base, "id", "vec", pqModel, ivfModel, Cosine,
      t1, s"/tmp/graft_test_pqapp/inc_${ProcessHandle.current().pid()}")
    PqIndex.appendToIvfIndex(delta, "id", "vec", pqModel, ivfModel, Cosine, t1)
    PqIndex.writeIvfIndex(corpus, "id", "vec", pqModel, ivfModel, Cosine,
      t2, s"/tmp/graft_test_pqapp/full_${ProcessHandle.current().pid()}")
    assert(rows(spark.table(t1)) == rows(spark.table(t2)),
      "appended codes table diverged from the from-scratch union build")
    // The base fit IS the union fit (the append-mode precondition).
    val fullFit = PqIndex.fitSeeds(corpus, "id", "vec", m = 4, k = 8)
    assert(pqModel.codebooks == fullFit.codebooks)
    // Compaction: content and the fingerprint survive the rewrite.
    val fpBefore = Layouts.readFingerprint(spark, t1)
    PqIndex.compactIvfIndex(spark, t1)
    assert(rows(spark.table(t1)) == rows(spark.table(t2)),
      "compaction changed the codes table's content")
    assert(Layouts.readFingerprint(spark, t1) == fpBefore && fpBefore.nonEmpty)
  }

  test("LSH append equals a from-scratch bucketize of the union") {
    val (base, delta) = splitCorpus
    val t = "graft_test_lshapp_inc"
    // Append-mode contract: the base must be built UNCAPPED (enforced by
    // the fingerprint check — see the fpcheck test).
    LshIndex.writeIndex(base, "id", "vec", dim, 0.5, 2, 1,
      t, s"/tmp/graft_test_lshapp/inc_${ProcessHandle.current().pid()}", 4,
      maxBucket = Long.MaxValue)
    LshIndex.appendToIndex(delta, "id", "vec", dim, 0.5, 2, 1, t, 4)
    val got = spark.table(t).select("tbl", "bucket", "id")
      .as[(Int, String, Long)].collect().toSet
    val want = RpLsh.bucketize(corpus, "id", "vec", dim, 0.5, 2, 1)
      .select("tbl", "bucket", "id").as[(Int, String, Long)].collect().toSet
    assert(got == want,
      "appended bucket table diverged from a from-scratch union bucketize")
    // Compaction: content and the (uncapped) fingerprint survive.
    val fpBefore = Layouts.readFingerprint(spark, t)
    LshIndex.compactIndex(spark, t, 4)
    val afterCompact = spark.table(t).select("tbl", "bucket", "id")
      .as[(Int, String, Long)].collect().toSet
    assert(afterCompact == want, "compaction changed the bucket table's content")
    assert(Layouts.readFingerprint(spark, t) == fpBefore && fpBefore.nonEmpty)
  }

  test("append under re-fitted models or different hash geometry fails loudly") {
    val (base, delta) = splitCorpus
    val pqModel = PqIndex.fitSeeds(base, "id", "vec", m = 4, k = 8)
    val ivfModel = IvfIndex.fitSeeds(base, "id", "vec", 4)
    val t = "graft_test_fpcheck_pq"
    PqIndex.writeIvfIndex(base, "id", "vec", pqModel, ivfModel, Cosine,
      t, s"/tmp/graft_test_fpcheck/pq_${ProcessHandle.current().pid()}")
    // A re-fit (different codebooks — here: trained on a different slice)
    // is an incompatible code space: the stored fingerprint must reject it.
    val refit = PqIndex.fitSeeds(corpus.filter(col("id") >= 2L), "id", "vec", 4, 8)
    intercept[IllegalArgumentException] {
      PqIndex.appendToIvfIndex(delta, "id", "vec", refit, ivfModel, Cosine, t)
    }
    val tl = "graft_test_fpcheck_lsh"
    LshIndex.writeIndex(base, "id", "vec", dim, 0.5, 2, 1,
      tl, s"/tmp/graft_test_fpcheck/lsh_${ProcessHandle.current().pid()}", 4,
      maxBucket = Long.MaxValue)
    intercept[IllegalArgumentException] { // different bucketLength geometry
      LshIndex.appendToIndex(delta, "id", "vec", dim, 0.7, 2, 1, tl, 4)
    }
    // Appending to a CAPPED base is rejected: build-time capping dropped
    // oversized buckets wholesale, so union ≡ rebuild would not hold.
    val tlc = "graft_test_fpcheck_lsh_capped"
    LshIndex.writeIndex(base, "id", "vec", dim, 0.5, 2, 1,
      tlc, s"/tmp/graft_test_fpcheck/lshc_${ProcessHandle.current().pid()}", 4)
    intercept[IllegalArgumentException] {
      LshIndex.appendToIndex(delta, "id", "vec", dim, 0.5, 2, 1, tlc, 4)
    }
    // An uncapped (append-mode) layout refuses cap-less probes — from the
    // BUILD stamp, so the guard holds before and after appends — while
    // recapAt probes work.
    LshIndex.appendToIndex(delta, "id", "vec", dim, 0.5, 2, 1, tl, 4)
    val q = corpus.limit(2).select(col("id").as("qid"), col("vec").as("qvec"))
    intercept[IllegalArgumentException] {
      LshIndex.annTopKStored(q, "qid", "qvec", corpus, "id", "vec", tl,
        3, dim, 0.5, 2, 1)
    }
    assert(LshIndex.annTopKStored(q, "qid", "qvec", corpus, "id", "vec", tl,
      3, dim, 0.5, 2, 1, recapAt = Some(1000L)).count() > 0)
    val ts = graft.operators.SpanDedup.buildIndex(
      Seq((1L, "a b c d e f g h")).toDF("id", "text"), "id", "text", 5,
      s"fp_${ProcessHandle.current().pid()}", "/tmp/graft_test_fpcheck/span", 2)
    intercept[IllegalArgumentException] { // different window width
      graft.operators.SpanDedup.appendToIndex(ts,
        Seq((2L, "a b c d e f g h")).toDF("id", "text"), "id", "text", 6, 2)
    }
    // Compaction preserves the stamp: a later same-k append still works.
    graft.operators.SpanDedup.compactIndex(spark, ts, 2)
    assert(graft.Layouts.readFingerprint(spark, ts.counts).contains("span|5"))
    graft.operators.SpanDedup.appendToIndex(ts,
      Seq((2L, "a b c d e f g h")).toDF("id", "text"), "id", "text", 5, 2)
    Seq(t, tl, tlc, ts.counts).foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
  }

  test("a fingerprint value containing 'token' stamps and reads back equal") {
    val t = "graft_test_fp_token"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Seq(1L).toDF("id").write.mode("overwrite").format("parquet")
      .option("path", s"/tmp/graft_test_fptoken/${ProcessHandle.current().pid()}")
      .saveAsTable(t)
    Layouts.stampFingerprint(spark, t, "lm|token-split|secret")
    assert(Layouts.readFingerprint(spark, t).contains("lm|token-split|secret"))
    Layouts.checkFingerprint(spark, t, "lm|token-split|secret", "token check")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("IVF layout: a compaction killed after its rewrite keeps the stamp and the append guard") {
    val (base, delta) = splitCorpus
    val model = IvfIndex.fitSeeds(base, "id", "vec", 4)
    val refit = IvfIndex.fitSeeds(corpus.filter(col("id") >= 2L), "id", "vec", 4)
    val fp = IvfIndex.modelFingerprint(model, Cosine)
    val path = s"/tmp/graft_test_fpcrash/ivf_${ProcessHandle.current().pid()}"
    IvfIndex.write(IvfIndex.assign(base, "id", "vec", model, Cosine), path,
      model, Cosine)
    // the stamp sits in the layout's sidecar: the rewrite cannot drop it
    CompactionKill.ivfAfterRewrite(spark, path, Some("id"))
    assert(Layouts.readFingerprintAt(spark, path).contains(fp))
    intercept[IllegalArgumentException] {
      IvfIndex.append(delta, "id", "vec", refit, Cosine, path)
    }
    // the re-run completes and changes nothing about the identity
    IvfIndex.compact(spark, path, "id")
    assert(Layouts.readFingerprintAt(spark, path).contains(fp))
    intercept[IllegalArgumentException] {
      IvfIndex.append(delta, "id", "vec", refit, Cosine, path)
    }
    IvfIndex.append(delta, "id", "vec", model, Cosine, path)
    assert(spark.read.parquet(path).count() == 150L)
    // An unstamped rebuild drops the stamp, crashed compaction or not: the
    // new layout must not be guarded by the OLD model's stamp.
    CompactionKill.ivfAfterRewrite(spark, path, Some("id"))
    IvfIndex.write(IvfIndex.assign(base, "id", "vec", refit, Cosine), path)
    assert(Layouts.readFingerprintAt(spark, path).isEmpty)
    IvfIndex.append(delta, "id", "vec", refit, Cosine, path)
  }

  test("bucketed store: a compaction killed after its rewrite keeps the stamp and the append guard") {
    val pid = ProcessHandle.current().pid()
    val docs = Seq((1L, "a b c d e f g h"), (2L, "b c d e f g h i")).toDF("id", "text")
    val ts = graft.operators.SpanDedup.buildIndex(docs, "id", "text", 5,
      s"fpcrash_$pid", s"/tmp/graft_test_fpcrash/span_$pid", 2)
    val loc = Layouts.location(spark, ts.counts).get
    CompactionKill.afterRewrite(spark, loc, spark.table(ts.counts), None)(
      graft.operators.Bucketed.writeBucketed(_, ts.counts, loc, "__gh", 2))
    assert(Layouts.readFingerprint(spark, ts.counts).contains("span|5"))
    val more = Seq((3L, "c d e f g h i j")).toDF("id", "text")
    intercept[IllegalArgumentException] { // a different window width
      graft.operators.SpanDedup.appendToIndex(ts, more, "id", "text", 6, 2)
    }
    intercept[IllegalArgumentException] { // a probe at another width
      graft.operators.SpanDedup.incrementalSpans(spark, ts, more, "id", "text", 6)
    }
    graft.operators.SpanDedup.compactIndex(spark, ts, 2)
    assert(Layouts.readFingerprint(spark, ts.counts).contains("span|5"))
    intercept[IllegalArgumentException] {
      graft.operators.SpanDedup.appendToIndex(ts, more, "id", "text", 6, 2)
    }
    graft.operators.SpanDedup.appendToIndex(ts, more, "id", "text", 5, 2)
    spark.sql(s"DROP TABLE IF EXISTS ${ts.counts}")
  }

  test("assignment drift: zero for identical and for relabeled centroids, counted for a moved set") {
    val model = IvfIndex.fitSeeds(corpus, "id", "vec", 4)
    val same = IvfIndex.assignmentDrift(corpus, "id", "vec", model, model, Cosine)
      .as[(Long, Long, Long)].head()
    assert(same == ((150L, 0L, 0L)), s"identical models must report zero drift: $same")
    // Relabel: reverse the list_ids — same centroid SET, so by-value
    // comparison must still see zero drift.
    val relabeled = IvfIndex.Model(model.centroids
      .select((lit(3) - col("list_id")).cast("int").as("list_id"), col("centroid")))
    val relab = IvfIndex.assignmentDrift(corpus, "id", "vec", model, relabeled, Cosine)
      .as[(Long, Long, Long)].head()
    assert(relab._2 == 0L, s"relabeling alone must not count as drift: $relab")
    // A genuinely different fit (centroids = four other corpus vectors)
    // moves some assignments; drift_e6 stays a sane fraction.
    val shifted = IvfIndex.fitSeeds(corpus.filter(col("id") >= 2L), "id", "vec", 4)
    val moved = IvfIndex.assignmentDrift(corpus, "id", "vec", model, shifted, Cosine)
      .as[(Long, Long, Long)].head()
    assert(moved._1 == 150L && moved._2 > 0L && moved._2 <= 150L, s"$moved")
    assert(math.abs(moved._3 - moved._2 * 1000000.0 / 150.0) <= 1.0,
      s"drift_e6 inconsistent with counts: $moved")
  }
}
