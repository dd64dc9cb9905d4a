package graft

import graft.operators.Eval

/** Ranking metrics (MRR / nDCG@k) against hand-computed cases. */
class EvalSpec extends SparkSpec {
  import spark.implicits._

  private val K = 3
  private def w(r: Int) = 1.0 / (math.log(r + 1.0) / math.log(2.0))
  private val idcg = (1 to K).map(w).sum

  test("rankMetrics: perfect, partial, and zero-overlap queries") {
    // oracle top-3 per query; ann: q1 perfect, q2 one hit at rank 2, q3 none
    val oracle = Seq(
      (1L, "a", 1L), (1L, "b", 2L), (1L, "c", 3L),
      (2L, "a", 1L), (2L, "b", 2L), (2L, "c", 3L),
      (3L, "a", 1L), (3L, "b", 2L), (3L, "c", 3L)
    ).toDF("qid", "cid", "rank")
    val ann = Seq(
      (1L, "a", 1L), (1L, "b", 2L), (1L, "c", 3L),
      (2L, "x", 1L), (2L, "a", 2L), (2L, "z", 3L),
      (3L, "x", 1L), (3L, "y", 2L), (3L, "z", 3L)
    ).toDF("qid", "cid", "rank")
    val got = Eval.rankMetrics(ann, oracle, "qid", "cid", K)
      .orderBy("qid")
      .select("qid", "n_hits", "first_rank", "rr", "ndcg")
      .as[(Long, Long, Long, Double, Double)].collect()

    assert(got.map(r => (r._1, r._2, r._3)).toSeq ==
      Seq((1L, 3L, 1L), (2L, 1L, 2L), (3L, 0L, 0L)))
    assertNear(got(0)._4, 1.0); assertNear(got(0)._5, 1.0)
    assertNear(got(1)._4, 0.5)
    assertNear(got(1)._5, w(2) / idcg, 1e-6) // only the rank-2 slot is relevant
    assertNear(got(2)._4, 0.0); assertNear(got(2)._5, 0.0)
  }

  test("rankSummary averages per-query rr/ndcg exactly") {
    val per = Seq((1L, 3L, 1L, 1.0, 1.0), (2L, 1L, 2L, 0.5, 0.3),
      (3L, 0L, 0L, 0.0, 0.0))
      .toDF("qid", "n_hits", "first_rank", "rr", "ndcg")
    val r = Eval.rankSummary(per).select("mrr", "avg_ndcg", "n_queries")
      .as[(Double, Double, Long)].head()
    assertNear(r._1, 0.5); assertNear(r._2, (1.0 + 0.3) / 3, 1e-6)
    assert(r._3 == 3L)
  }

  test("weight tables match the transcendental they pin, at 10 decimals") {
    Eval.dcgWeightStrings(10).zipWithIndex.foreach { case (s, i) =>
      assertNear(s.toDouble, w(i + 1), 5e-11)
    }
    Eval.rrWeightStrings(10).zipWithIndex.foreach { case (s, i) =>
      assertNear(s.toDouble, 1.0 / (i + 1), 5e-11)
    }
    assertNear(Eval.idcgString(10).toDouble, (1 to 10).map(w).sum, 1e-9)
  }

  test("rankMetrics output is deterministic under repartition") {
    val oracle = (1L to 5L).flatMap(q => Seq("a", "b", "c").zipWithIndex
      .map { case (c, i) => (q, c + q.toString, i + 1L) }).toDF("qid", "cid", "rank")
    val ann = (1L to 5L).flatMap(q => Seq("a", "z", "c").zipWithIndex
      .map { case (c, i) => (q, c + q.toString, i + 1L) }).toDF("qid", "cid", "rank")
    val a = Eval.rankMetrics(ann, oracle, "qid", "cid", 3).orderBy("qid").collect()
    val b = Eval.rankMetrics(ann.repartition(7), oracle.repartition(3),
      "qid", "cid", 3).orderBy("qid").collect()
    assert(a.sameElements(b))
  }
}
