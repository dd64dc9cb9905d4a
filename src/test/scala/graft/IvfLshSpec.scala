package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.{Cosine, L2}
import graft.operators.{Eval, IvfIndex, KnnJoin, LshIndex}

class IvfLshSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private lazy val (queries, corpus) = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.filter($"vec_id" < 20)
      .select($"vec_id".as("qid"), $"embedding".cast("array<double>").as("qvec"))
    val c = emb.filter($"vec_id" >= 20)
      .select($"vec_id".as("cid"), $"embedding".cast("array<double>").as("cvec"))
    (q.cache(), c.cache())
  }

  private lazy val exact =
    KnnJoin.exact(queries, "qid", "qvec", corpus, "cid", "cvec", 10, Cosine).cache()

  private def recallOf(ann: org.apache.spark.sql.DataFrame): Double =
    Eval.recallSummary(Eval.recallAtK(ann, exact, "qid", "cid"))
      .select("avg_recall").head().getDouble(0)

  test("seed-IVF with nProbe = lists reproduces exact search") {
    val model = IvfIndex.fitSeeds(corpus, "cid", "cvec", 4)
    val indexed = IvfIndex.assign(corpus, "cid", "cvec", model, Cosine)
    val ivf = IvfIndex.search(queries, "qid", "qvec", indexed, "cid", "cvec",
      model, 10, 4, Cosine)
    assertNear(recallOf(ivf), 1.0)
  }

  test("KMeans-IVF: full probe exact, partial probe trades recall, assignment total") {
    val model = IvfIndex.fitKMeans(corpus, "cvec", 4, maxIter = 10, seed = 42L)
    assert(model.centroids.count() == 4)
    val indexed = IvfIndex.assign(corpus, "cid", "cvec", model, Cosine).cache()
    assert(indexed.count() == corpus.count()) // every vector lands in one list
    assert(indexed.select("list_id").distinct().count() <= 4)
    val full = IvfIndex.search(queries, "qid", "qvec", indexed, "cid", "cvec",
      model, 10, 4, Cosine)
    assertNear(recallOf(full), 1.0)
    val partial = IvfIndex.search(queries, "qid", "qvec", indexed, "cid", "cvec",
      model, 10, 1, Cosine)
    val r = recallOf(partial)
    assert(r > 0.0 && r <= 1.0, s"probes=1 recall $r out of range")
  }

  test("IVF index round-trips through partitioned parquet with list pruning") {
    val model = IvfIndex.fitSeeds(corpus, "cid", "cvec", 4)
    val indexed = IvfIndex.assign(corpus, "cid", "cvec", model, Cosine)
    val path = java.nio.file.Files.createTempDirectory("ivf").toString + "/idx"
    IvfIndex.write(indexed, path)
    val back = spark.read.parquet(path)
    assert(back.count() == corpus.count())
    // partition pruning: a list_id filter reads only that partition's rows
    val one = back.filter($"list_id" === 0)
    val plan = one.queryExecution.executedPlan.toString
    assert(back.select("list_id").distinct().count() <= 4)
    val viaIndex = IvfIndex.search(queries, "qid", "qvec",
      back.withColumn("cvec", $"cvec".cast("array<double>")),
      "cid", "cvec", model, 10, 4, Cosine)
    assertNear(recallOf(viaIndex), 1.0)
  }

  test("filtered stored-IVF search: probe-all equals the brute filtered exact; predicate rides the index") {
    val model = IvfIndex.fitSeeds(corpus, "cid", "cvec", 4)
    val path = java.nio.file.Files.createTempDirectory("ivffilt").toString + "/idx"
    IvfIndex.write(IvfIndex.assign(corpus, "cid", "cvec", model, Cosine), path,
      model, Cosine)
    val stored = spark.read.parquet(path)
      .withColumn("cvec", $"cvec".cast("array<double>"))
    val pred = $"cid" % 2 === 0
    // probe-all degrades to exact search over the FILTERED corpus: the
    // filtered tier and the brute filtered baseline must answer identically
    val all = IvfIndex.search(queries, "qid", "qvec", stored.filter(pred),
      "cid", "cvec", model, 10, 4, Cosine)
    val brute = KnnJoin.exact(queries, "qid", "qvec", corpus.filter(pred),
      "cid", "cvec", 10, Cosine)
    assert(all.collect().map(_.toSeq).toSet == brute.collect().map(_.toSeq).toSet)
    // probe-pruned: every hit satisfies the predicate, and the stored tier
    // answers exactly like the same search over the in-memory assignment
    val pruned = IvfIndex.search(queries, "qid", "qvec", stored.filter(pred),
      "cid", "cvec", model, 10, 2, Cosine)
    assert(pruned.filter($"cid" % 2 =!= 0).isEmpty)
    val inMem = IvfIndex.search(queries, "qid", "qvec",
      IvfIndex.assign(corpus, "cid", "cvec", model, Cosine).filter(pred),
      "cid", "cvec", model, 10, 2, Cosine)
    assert(pruned.collect().map(_.toSeq).toSet == inMem.collect().map(_.toSeq).toSet)
  }

  test("IVF append against the stored model equals a from-scratch assign of the union") {
    val isDelta = $"cid" % 7 === 3 && $"cid" >= 110L
    val (base, delta) = (corpus.filter(!isDelta), corpus.filter(isDelta))
    val model = IvfIndex.fitSeeds(base, "cid", "cvec", 4)
    val path = java.nio.file.Files.createTempDirectory("ivfapp").toString + "/idx"
    IvfIndex.write(IvfIndex.assign(base, "cid", "cvec", model, Cosine), path,
      model, Cosine)
    IvfIndex.append(delta, "cid", "cvec", model, Cosine, path)
    val got = spark.read.parquet(path).select($"cid", $"list_id".cast("int"))
      .as[(Long, Int)].collect().toSet
    val want = IvfIndex.assign(corpus, "cid", "cvec", model, Cosine)
      .select($"cid", $"list_id".cast("int")).as[(Long, Int)].collect().toSet
    assert(got == want)
    // Re-fitted model (different seed set: the two lowest corpus ids
    // excluded) against the stamped sidecar: rejected loudly.
    val refit = IvfIndex.fitSeeds(corpus.filter($"cid" >= 22L), "cid", "cvec", 4)
    intercept[IllegalArgumentException] {
      IvfIndex.append(delta, "cid", "cvec", refit, Cosine, path)
    }
  }

  test("filtered stored-LSH search: hits satisfy the predicate; the predicate-free index serves every filter") {
    val t = s"graft_test_lshfilt_${ProcessHandle.current().pid()}"
    LshIndex.writeIndex(corpus, "cid", "cvec", 64, 0.2, 3, 1,
      t, s"/tmp/graft_test_lshfilt/${ProcessHandle.current().pid()}", 4)
    val pred = $"cid" % 2 === 0
    val filt = LshIndex.annTopKStored(queries, "qid", "qvec",
      corpus.filter(pred), "cid", "cvec", t, 10, 64, 0.2, 3, 1)
    // every hit satisfies the predicate
    assert(filt.filter($"cid" % 2 =!= 0).isEmpty)
    assert(filt.count() > 0, "filtered LSH returned nothing at all")
    // a trivial predicate answers exactly like the unfiltered stored search
    val trivial = LshIndex.annTopKStored(queries, "qid", "qvec",
      corpus.filter(lit(true)), "cid", "cvec", t, 10, 64, 0.2, 3, 1)
    val plain = LshIndex.annTopKStored(queries, "qid", "qvec", corpus, "cid",
      "cvec", t, 10, 64, 0.2, 3, 1)
    assert(trivial.collect().map(_.toSeq).toSet ==
      plain.collect().map(_.toSeq).toSet)
    // the ONE stored (predicate-free) index answers like an on-the-fly
    // search over the pre-filtered corpus: filtering at the vector lookup
    // loses nothing vs filtering before bucketization (no bucket here
    // exceeds the cap, so the cap census difference cannot bite)
    val rebuilt = LshIndex.annTopK(queries, "qid", "qvec",
      corpus.filter(pred), "cid", "cvec", 10, 64, 0.2, 3, 1)
    assert(filt.collect().map(_.toSeq).toSet ==
      rebuilt.collect().map(_.toSeq).toSet)
  }

  test("LSH ANN is deterministic across runs and finds real neighbors") {
    val a = LshIndex.annTopK(queries, "qid", "qvec", corpus, "cid", "cvec", 10,
      dim = 64, bucketLength = 0.2, numTables = 3)
    val b = LshIndex.annTopK(queries, "qid", "qvec", corpus, "cid", "cvec", 10,
      dim = 64, bucketLength = 0.2, numTables = 3)
    val ra = a.collect().map(_.toSeq).toSet
    assert(ra == b.collect().map(_.toSeq).toSet)
    assert(ra.nonEmpty, "LSH returned no candidates at all")
    // L2-exact reference for recall (LSH buckets on euclidean distance)
    val l2exact = KnnJoin.exact(queries, "qid", "qvec", corpus, "cid", "cvec", 10, L2)
    val rec = Eval.recallSummary(Eval.recallAtK(a, l2exact, "qid", "cid"))
      .select("avg_recall").head().getDouble(0)
    assert(rec > 0.0, s"LSH recall $rec should be positive")
  }

  test("multi-probe LSH never loses recall vs single-probe; probes expand the query side only") {
    val l2exact = KnnJoin.exact(queries, "qid", "qvec", corpus, "cid", "cvec", 10, L2)
    def recL2(df: org.apache.spark.sql.DataFrame): Double =
      Eval.recallSummary(Eval.recallAtK(df, l2exact, "qid", "cid"))
        .select("avg_recall").head().getDouble(0)
    val single = LshIndex.annTopK(queries, "qid", "qvec", corpus, "cid", "cvec",
      10, dim = 64, bucketLength = 0.4, numTables = 3, numPlanes = 2)
    val multi = LshIndex.annTopKMultiProbe(queries, "qid", "qvec", corpus,
      "cid", "cvec", 10, dim = 64, bucketLength = 0.4, numTables = 3,
      numPlanes = 2)
    // the multi-probe candidate set is a superset, so recall can only rise
    val (rs, rm) = (recL2(single), recL2(multi))
    assert(rm >= rs, s"multi-probe recall $rm below single-probe $rs")
    assert(multi.count() >= single.count(),
      "multi-probe answered fewer queries than single-probe")
    // probe fan-out: 1 + 2·numPlanes keys per (query, table)
    val probes = graft.operators.RpLsh.bucketizeProbes(queries, "qid", "qvec",
      64, 0.4, numTables = 3, numPlanes = 2)
    assert(probes.count() === queries.count() * 3 * 5)
    assert(probes.distinct().count() === probes.count(),
      "probe keys must be pairwise distinct by construction")
  }

  test("probe curve: recall monotone in nprobe, exact at full probe") {
    val rows = SparkEntry.queries("ivf_probe_curve")(spark, sfDir)
      .orderBy("n_probe").collect()
      .map(r => (r.getAs[Long]("n_probe"), r.getAs[Double]("avg_recall")))
    assert(rows.map(_._1).toSeq === Seq(1L, 2L, 4L))
    val recs = rows.map(_._2)
    assert(recs.sliding(2).forall(w => w(0) <= w(1)),
      s"recall not monotone in probes: ${recs.toSeq}")
    assertNear(recs.last, 1.0)
  }

  test("RpLsh planes are md5-deterministic, unit-norm, and SQL literals round-trip") {
    import graft.operators.RpLsh
    assert(RpLsh.plane(0, 0, 64) == RpLsh.plane(0, 0, 64))
    assert(RpLsh.plane(0, 0, 64) != RpLsh.plane(1, 0, 64))
    assert(RpLsh.plane(0, 0, 64) != RpLsh.plane(0, 1, 64)) // planes within a table differ
    val norm = math.sqrt(RpLsh.plane(2, 1, 64).map(x => x * x).sum)
    assertNear(norm, 1.0)
    // Double.toString round-trips through the SQL literal text
    val parsed = RpLsh.planeSql(1, 0, 64).stripPrefix("[").stripSuffix("]")
      .split(", ").map(_.toDouble).toSeq
    assert(parsed == RpLsh.plane(1, 0, 64))
  }

  test("RpLsh AND-composition sharpens buckets and fails fast on wrong dim") {
    import graft.operators.RpLsh
    val one = RpLsh.bucketize(corpus, "cid", "cvec", 64, 0.4, 1, 1)
    val four = RpLsh.bucketize(corpus, "cid", "cvec", 64, 0.4, 1, 4)
    val n1 = one.select("bucket").distinct().count()
    val n4 = four.select("bucket").distinct().count()
    assert(n4 > n1, s"4-plane grid ($n4 buckets) should out-partition 1 plane ($n1)")
    // wrong dim raises instead of silently nulling every bucket
    val ex = intercept[Exception] {
      RpLsh.bucketize(corpus, "cid", "cvec", 32, 0.4, 1, 1).collect()
    }
    assert(ex.getMessage != null)
  }

  test("KMeans-IVF recall at probes=2 meets or beats the seed quantizer") {
    val seedModel = IvfIndex.fitSeeds(corpus, "cid", "cvec", 4)
    val seedIdx = IvfIndex.assign(corpus, "cid", "cvec", seedModel, Cosine)
    val seedRec = recallOf(IvfIndex.search(queries, "qid", "qvec", seedIdx,
      "cid", "cvec", seedModel, 10, 2, Cosine))
    val kmModel = IvfIndex.fitKMeans(corpus, "cvec", 4)
    val kmIdx = IvfIndex.assign(corpus, "cid", "cvec", kmModel, Cosine)
    val kmRec = recallOf(IvfIndex.search(queries, "qid", "qvec", kmIdx,
      "cid", "cvec", kmModel, 10, 2, Cosine))
    assert(kmRec >= seedRec,
      s"Lloyd-refined centroids recall $kmRec < seed quantizer $seedRec")
  }

  test("assign is a pure projection: no Exchange between scan and list_id") {
    val model = IvfIndex.fitSeeds(corpus, "cid", "cvec", 4)
    val indexed = IvfIndex.assign(corpus, "cid", "cvec", model, Cosine)
    val plan = indexed.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"assign plan shuffles:\n$plan")
  }
}
