package graft

import graft.operators.{KnnJoin, Mmr}
import graft.functions.VectorFunctions.Cosine

class MmrSpec extends SparkSpec {
  import spark.implicits._

  // One query pointing at (1,0,...); corpus: three near-copies of the
  // query direction (ids 1,2,3), one orthogonal (10), one diagonal (20).
  private val dim = 8
  private def vec(xs: Double*): Seq[Double] = xs ++ Seq.fill(dim - xs.size)(0.0)
  private lazy val queries = Seq((100L, vec(1.0))).toDF("qid", "qvec")
  private lazy val corpus = Seq(
    (1L, vec(1.0, 0.001)), (2L, vec(1.0, 0.002)), (3L, vec(1.0, 0.003)),
    (10L, vec(0.0, 1.0)), (20L, vec(0.7, 0.7))
  ).toDF("cid", "cvec")

  test("lambda=1 reproduces plain top-k ranking with similarity scores") {
    val mmr = Mmr.rerank(queries, "qid", "qvec", corpus, "cid", "cvec",
      k = 4, fetch = 5, lambda = 1.0)
      .select($"qid", $"cid", $"rank").as[(Long, Long, Long)].collect()
      .sortBy(_._3).toSeq
    val plain = KnnJoin.exact(queries, "qid", "qvec", corpus, "cid", "cvec",
      4, Cosine)
      .select($"qid", $"cid", $"rank").as[(Long, Long, Long)].collect()
      .sortBy(_._3).toSeq
    assert(mmr == plain)
  }

  test("lambda<1 breaks up the near-duplicate cluster that plain top-k returns") {
    val plain = KnnJoin.exact(queries, "qid", "qvec", corpus, "cid", "cvec",
      3, Cosine).select($"cid").as[Long].collect().toSet
    assert(plain == Set(1L, 2L, 3L), s"fixture: plain top-3 is the near-dup cluster, got $plain")
    // λ=0.4, not 0.5: with the first pick nearly equal to the query,
    // maxsim ≈ rel for EVERY candidate, so at λ=0.5 the two terms cancel
    // to ulp-level ties — the diversity weight must exceed the relevance
    // weight to flip a near-dup cluster on this geometry.
    val mmr = Mmr.rerank(queries, "qid", "qvec", corpus, "cid", "cvec",
      k = 3, fetch = 5, lambda = 0.4)
      .select($"cid", $"rank").as[(Long, Long)].collect().sortBy(_._2).toSeq
    // Rank 1 is the plain top-1; the later picks trade relevance for
    // spread: at most ONE member of the near-dup cluster survives.
    assert(mmr.head._1 == 1L, s"rank 1 must be the plain top-1: $mmr")
    assert(mmr.map(_._1).count(Set(1L, 2L, 3L)) == 1,
      s"MMR must not keep the near-dup cluster: $mmr")
    assert(mmr.map(_._1).toSet.subsetOf(Set(1L, 2L, 3L, 10L, 20L)))
  }

  test("streaming rerank: micro-batch results equal the batch operator per batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val batches = Seq(
      Seq((100L, vec(1.0))),
      Seq((101L, vec(0.0, 1.0)), (102L, vec(0.7, 0.7))))
    val input = MemoryStream[(Long, Seq[Double])]
    val got = scala.collection.mutable.Map[Long, Seq[(Long, Long, Long)]]()
    val query = graft.operators.Mmr.rerankStream(
      input.toDF().toDF("qid", "qvec"), "qid", "qvec", corpus, "cid", "cvec",
      3, 5, 0.4)(
      (df, id) => got(id) = df.orderBy("qid", "rank")
        .select($"qid", $"cid", $"rank").as[(Long, Long, Long)].collect().toSeq)
    try {
      input.addData(batches(0)); query.processAllAvailable()
      input.addData(batches(1)); query.processAllAvailable()
    } finally query.stop()
    def batchOf(rows: Seq[(Long, Seq[Double])]) =
      graft.operators.Mmr.rerank(rows.toDF("qid", "qvec"), "qid", "qvec",
        corpus, "cid", "cvec", 3, 5, 0.4)
        .orderBy("qid", "rank").select($"qid", $"cid", $"rank")
        .as[(Long, Long, Long)].collect().toSeq
    assert(got(0L) == batchOf(batches(0)))
    assert(got(1L) == batchOf(batches(1)))
  }

  test("parameter validation") {
    intercept[IllegalArgumentException] {
      Mmr.rerank(queries, "qid", "qvec", corpus, "cid", "cvec", 5, 4, 0.5)
    }
    intercept[IllegalArgumentException] {
      Mmr.rerank(queries, "qid", "qvec", corpus, "cid", "cvec", 2, 4, 1.5)
    }
  }
}
