package graft

import graft.functions.VectorFunctions.{Cosine, L2}
import graft.operators.SimilaritySearch
import graft.operators.SimilaritySearch.{BruteForce, Graph, Ivf, Lsh, Pq}

class SimilaritySearchSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private lazy val q = emb.filter($"vec_id" < 10)
    .select($"vec_id".as("qid"), $"embedding".cast("array<double>").as("v")).cache()
  private lazy val c = emb.filter($"vec_id" >= 10)
    .select($"vec_id".as("cid"), $"embedding".cast("array<double>").as("v")).cache()

  private def run(strategy: SimilaritySearch.Strategy,
      metric: graft.functions.VectorFunctions.Metric = Cosine) =
    SimilaritySearch.topK(q, "qid", "v", c, "cid", "v", 5, metric, strategy)

  test("every strategy returns k ranked rows per query in one shape") {
    for (s <- Seq[SimilaritySearch.Strategy](
        BruteForce, Ivf(lists = 4, nProbe = 2), Lsh(dim = 64, bucketLength = 0.2),
        Graph(degree = 4, hops = 4, beam = 8),
        Graph(degree = 4, hops = 3, beam = 8, layerMod = 4),
        Pq(m = 8, ksub = 16), Pq(m = 8, ksub = 16, overfetch = 4))) {
      val metric =
        if (s.isInstanceOf[Lsh] || s.isInstanceOf[Pq]) L2 else Cosine
      val df = run(s, metric)
      assert(df.columns.toSeq == Seq("qid", "cid", "rank", "dist"))
      val perQ = df.groupBy("qid").count().as[(Long, Long)].collect().toMap
      assert(perQ.size == 10 && perQ.values.forall(_ == 5), s"strategy $s")
    }
  }

  test("Graph strategy matches a direct GraphSearch walk") {
    import graft.operators.{GraphSearch, PageRank}
    val api = run(Graph(degree = 4, hops = 4, beam = 8))
      .orderBy("qid", "rank").collect().map(_.toSeq)
    val edges = PageRank.symmetrize(PageRank.directedKnnEdges(
      c.select($"cid", $"v"), "cid", "v", 4))
    val direct = GraphSearch.beamSearch(q, "qid", "v", c, "cid", "v",
      edges, hops = 4, beam = 8, k = 5)
      .orderBy("qid", "rank").collect().map(_.toSeq)
    assert(api.toSeq == direct.toSeq)
  }

  test("Pq strategy matches the direct PqIndex encode+search pipeline") {
    import graft.operators.PqIndex
    val api = run(Pq(m = 8, ksub = 16, overfetch = 4), L2)
      .orderBy("qid", "rank").collect().map(_.toSeq)
    val model = PqIndex.fitSeeds(c, "cid", "v", 8, 16)
    val enc = PqIndex.encode(c, "cid", "v", model)
    val direct = PqIndex.searchRefined(q, "qid", "v", enc, c, "cid", "v",
      model, 5, 4).orderBy("qid", "rank").collect().map(_.toSeq)
    assert(api.toSeq == direct.toSeq)
  }

  test("IVF with full probing equals brute force") {
    val bf = run(BruteForce).orderBy("qid", "rank").collect().map(_.toSeq)
    val ivf = run(Ivf(lists = 4, nProbe = 4)).orderBy("qid", "rank").collect().map(_.toSeq)
    assert(bf.toSeq == ivf.toSeq)
  }

  test("invalid configurations fail fast") {
    intercept[IllegalArgumentException](run(Ivf(lists = 4, nProbe = 5)))
    intercept[IllegalArgumentException](run(Lsh(dim = 64, bucketLength = 0.2), Cosine))
  }

  test("streaming top-k: micro-batch results equal the batch operator per batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val qRows = q.select($"qid", $"v").as[(Long, Seq[Double])].collect().toSeq
    val (b1, b2) = qRows.splitAt(4)
    val input = MemoryStream[(Long, Seq[Double])]
    val got = scala.collection.mutable.Map[Long, Array[(Long, Long, Long, Double)]]()
    val query = SimilaritySearch.topKStream(
      input.toDF().toDF("qid", "v"), "qid", "v", c, "cid", "v", 5, Cosine)(
      (df, id) => got(id) = df.orderBy("qid", "rank")
        .as[(Long, Long, Long, Double)].collect())
    try {
      input.addData(b1); query.processAllAvailable()
      input.addData(b2); query.processAllAvailable()
    } finally query.stop()
    def batchOf(rows: Seq[(Long, Seq[Double])]) =
      SimilaritySearch.topK(rows.toDF("qid", "v"), "qid", "v", c, "cid", "v",
        5, Cosine).orderBy("qid", "rank").as[(Long, Long, Long, Double)].collect()
    assert(got(0L).toSeq == batchOf(b1).toSeq)
    assert(got(1L).toSeq == batchOf(b2).toSeq)
  }

  test("streaming filtered-IVF: micro-batch results equal the batch filtered tier") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.IvfIndex
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val model = IvfIndex.fitSeeds(c, "cid", "v", 4)
    val path = java.nio.file.Files.createTempDirectory("ivfstream").toString + "/idx"
    IvfIndex.write(IvfIndex.assign(c, "cid", "v", model, Cosine), path,
      model, Cosine)
    val stored = spark.read.parquet(path)
      .withColumn("v", $"v".cast("array<double>"))
    val pred = $"cid" % 2 === 0
    val qRows = q.select($"qid", $"v").as[(Long, Seq[Double])].collect().toSeq
    val (b1, b2) = qRows.splitAt(4)
    val input = MemoryStream[(Long, Seq[Double])]
    val got = scala.collection.mutable.Map[Long, Array[(Long, Long, Long, Double)]]()
    val query = SimilaritySearch.topKIvfStream(
      input.toDF().toDF("qid", "v"), "qid", "v", stored.filter(pred), "cid", "v",
      model, 5, 2, Cosine)(
      (df, id) => got(id) = df.orderBy("qid", "rank")
        .as[(Long, Long, Long, Double)].collect())
    try {
      input.addData(b1); query.processAllAvailable()
      input.addData(b2); query.processAllAvailable()
    } finally query.stop()
    def batchOf(rows: Seq[(Long, Seq[Double])]) =
      IvfIndex.search(rows.toDF("qid", "v"), "qid", "v",
        stored.filter(pred), "cid", "v", model, 5, 2, Cosine)
        .orderBy("qid", "rank").as[(Long, Long, Long, Double)].collect()
    assert(got(0L).toSeq == batchOf(b1).toSeq)
    assert(got(1L).toSeq == batchOf(b2).toSeq)
    // every streamed hit satisfies the predicate
    assert(got.values.flatten.forall(_._2 % 2 == 0))
  }

  test("streaming serving respects tombstones: filtered+deleted micro-batches equal the batch face") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{IvfIndex, Tombstones}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val model = IvfIndex.fitSeeds(c, "cid", "v", 4)
    val path = java.nio.file.Files.createTempDirectory("ivfdelstream").toString + "/idx"
    IvfIndex.write(IvfIndex.assign(c, "cid", "v", model, Cosine), path,
      model, Cosine)
    Tombstones.add(c.filter($"cid" % 9 === 4), "cid", path)
    val stored = spark.read.parquet(path)
      .withColumn("v", $"v".cast("array<double>"))
    val pred = $"cid" % 2 === 0
    val tombs = Tombstones.read(spark, path)
    val qRows = q.select($"qid", $"v").as[(Long, Seq[Double])].collect().toSeq
    val (b1, b2) = qRows.splitAt(4)
    val input = MemoryStream[(Long, Seq[Double])]
    val got = scala.collection.mutable.Map[Long, Array[(Long, Long, Long, Double)]]()
    val query = SimilaritySearch.topKIvfStream(
      input.toDF().toDF("qid", "v"), "qid", "v", stored.filter(pred), "cid", "v",
      model, 5, 2, Cosine, excludeIds = tombs)(
      (df, id) => got(id) = df.orderBy("qid", "rank")
        .as[(Long, Long, Long, Double)].collect())
    try {
      input.addData(b1); query.processAllAvailable()
      input.addData(b2); query.processAllAvailable()
    } finally query.stop()
    def batchOf(rows: Seq[(Long, Seq[Double])]) =
      IvfIndex.search(rows.toDF("qid", "v"), "qid", "v",
        stored.filter(pred), "cid", "v", model, 5, 2, Cosine, excludeIds = tombs)
        .orderBy("qid", "rank").as[(Long, Long, Long, Double)].collect()
    assert(got(0L).toSeq == batchOf(b1).toSeq)
    assert(got(1L).toSeq == batchOf(b2).toSeq)
    // every streamed hit is live AND satisfies the predicate
    assert(got.values.flatten.forall(r => r._2 % 2 == 0 && r._2 % 9 != 4))
    assert(got.values.flatten.nonEmpty)
  }
}
