package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.{Cosine, L2}
import graft.operators.KnnJoin

class KnnJoinSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(7)
  private def vec(d: Int): Seq[Double] = Seq.fill(d)(rnd.nextDouble() * 2 - 1)

  private lazy val queries =
    (0L until 5L).map(i => (i, vec(8))).toDF("qid", "qvec")
  private lazy val corpus =
    (100L until 160L).map(i => (i, vec(8), (i % 7).toInt)).toDF("cid", "cvec", "label")

  private def asTuples(df: org.apache.spark.sql.DataFrame) =
    df.select("qid", "cid", "rank", "dist").as[(Long, Long, Long, Double)]
      .collect().sortBy(t => (t._1, t._3)).toSeq

  test("exact (bounded-heap) matches exactWindow (cross join + window) — cosine and L2") {
    for (m <- Seq(Cosine, L2)) {
      val a = asTuples(KnnJoin.exact(queries, "qid", "qvec", corpus, "cid", "cvec", 10, m))
      val b = asTuples(KnnJoin.exactWindow(queries, "qid", "qvec", corpus, "cid", "cvec", 10, m))
      assert(a.size == 50)
      a.zip(b).foreach { case ((q1, c1, r1, d1), (q2, c2, r2, d2)) =>
        assert(q1 == q2 && c1 == c2 && r1 == r2); assertNear(d1, d2, 1e-12)
      }
    }
  }

  test("k larger than corpus returns whole corpus ranked") {
    val one = queries.limit(1)
    val small = corpus.limit(3)
    val r = asTuples(KnnJoin.exact(one, "qid", "qvec", small, "cid", "cvec", 10, Cosine))
    assert(r.size == 3)
    assert(r.map(_._3) == Seq(1L, 2L, 3L))
    assert(r.map(_._4) == r.map(_._4).sorted)
  }

  test("deterministic tie-break on (dist, id): duplicate vectors rank by id") {
    val q = Seq((1L, Seq(1.0, 0.0))).toDF("qid", "qvec")
    val dup = Seq(
      (30L, Seq(0.5, 0.5)), (10L, Seq(0.5, 0.5)), (20L, Seq(0.5, 0.5)),
      (5L, Seq(1.0, 0.0))).toDF("cid", "cvec")
    val r = asTuples(KnnJoin.exact(q, "qid", "qvec", dup, "cid", "cvec", 4, Cosine))
    assert(r.map(_._2) == Seq(5L, 10L, 20L, 30L))
  }

  test("string id corpus is supported and ties order lexically") {
    val q = Seq((1L, Seq(1.0, 0.0))).toDF("qid", "qvec")
    val c = Seq(
      ("b", Seq(0.5, 0.5)), ("a", Seq(0.5, 0.5)), ("c", Seq(1.0, 0.0)))
      .toDF("cid", "cvec")
    val r = KnnJoin.exact(q, "qid", "qvec", c, "cid", "cvec", 3, Cosine)
      .select("qid", "cid", "rank").as[(Long, String, Long)]
      .collect().sortBy(_._3).toSeq
    assert(r.map(_._2) == Seq("c", "a", "b"))
    // and the window form agrees
    val w = KnnJoin.exactWindow(q, "qid", "qvec", c, "cid", "cvec", 3, Cosine)
      .select("qid", "cid", "rank").as[(Long, String, Long)]
      .collect().sortBy(_._3).toSeq
    assert(w == r)
  }

  test("non-numeric, non-string id type fails fast instead of silently nulling") {
    val q = Seq((1L, Seq(1.0, 0.0))).toDF("qid", "qvec")
    val c = Seq((Seq(1), Seq(1.0, 0.0))).toDF("cid", "cvec")
    intercept[IllegalArgumentException] {
      KnnJoin.exact(q, "qid", "qvec", c, "cid", "cvec", 1, Cosine)
    }
  }

  test("exactDedupByKey keeps first-wins per label and re-ranks contiguously") {
    val r = KnnJoin.exactDedupByKey(
      queries, "qid", "qvec", corpus, "cid", "cvec", "label", 5, Cosine)
    val rows = r.select("qid", "cid", "label", "rank", "dist")
      .as[(Long, Long, Int, Long, Double)].collect()
    val byQ = rows.groupBy(_._1)
    assert(byQ.size == 5)
    byQ.values.foreach { g =>
      val sorted = g.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1L to g.size).toSeq)   // contiguous ranks
      assert(g.map(_._3).distinct.length == g.length)          // labels unique
      assert(sorted.map(_._5).toSeq == sorted.map(_._5).sorted.toSeq) // dist ascending
    }
    // first-wins: each kept label's dist is the minimum over that label's corpus
    val full = KnnJoin.exactWindow(queries, "qid", "qvec", corpus, "cid", "cvec", 60, Cosine)
      .join(corpus.select(col("cid"), col("label")), "cid")
      .select("qid", "label", "dist").as[(Long, Int, Double)].collect()
      .groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).min).toMap
    rows.foreach { case (q, _, l, _, d) => assertNear(d, full((q, l)), 1e-12) }
  }

  test("one overfetch serves both rankings: top-k is its ranks 1..k, dedup equals exactDedupByKey (with id ties)") {
    // 20 distinct vectors, each stored under 3 ids in scrambled order, so
    // equal distances tie in triples and both the k and the k·10 cut fall
    // inside a tie group (k = 4: ranks 4|5 and 40|41 split a triple). A
    // triple shares its label, so first-wins must pick by id among ties.
    val base = (0 until 20).map(_ => vec(8))
    val ids = new scala.util.Random(11).shuffle((0L until 60L).toList)
    val longC = ids.zipWithIndex.map { case (id, j) => (id, base(j % 20), j % 20 % 7) }
      .toDF("cid", "cvec", "label")
    // string ids order lexically ("c10" < "c9"), not numerically
    val strC = longC.select(concat(lit("c"), col("cid")).as("cid"), col("cvec"), col("label"))
    val k = 4
    def rows(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.select(cols.map(col): _*).collect().map(_.toSeq).toSeq
        .sortBy(r => (r.head.asInstanceOf[Long], r(cols.indexOf("rank")).asInstanceOf[Long]))
    for (c <- Seq(longC, strC); m <- Seq(Cosine, L2)) {
      val over = KnnJoin.exact(queries, "qid", "qvec", c, "cid", "cvec", k * 10, m)
      val cols = Seq("qid", "cid", "rank", "dist")
      assert(rows(KnnJoin.exact(queries, "qid", "qvec", c, "cid", "cvec", k, m), cols: _*) ==
        rows(over.filter(col("rank") <= k), cols: _*))

      val dcols = Seq("qid", "cid", "label", "rank", "dist")
      val shared = rows(KnnJoin.dedupByKey(over, "qid", c, "cid", "label", k), dcols: _*)
      assert(shared == rows(KnnJoin.exactDedupByKey(queries, "qid", "qvec", c, "cid", "cvec",
        "label", k, m), dcols: _*))
      // the pre-split algorithm on the driver: walk the overfetch in rank
      // order, keep each label's first row, re-rank, keep k
      val labels = c.select("cid", "label").collect().map(r => r.get(0) -> r.getInt(1)).toMap
      val reference = rows(over, cols: _*).groupBy(_.head).toSeq.flatMap { case (_, g) =>
        g.foldLeft(Vector.empty[Seq[Any]]) { (kept, r) =>
          if (kept.exists(_(2) == labels(r(1)))) kept else kept :+ Seq(r(0), r(1), labels(r(1)), r(3))
        }.take(k).zipWithIndex.map { case (r, i) => Seq(r(0), r(1), r(2), (i + 1).toLong, r(3)) }
      }.sortBy(r => (r.head.asInstanceOf[Long], r(3).asInstanceOf[Long]))
      assert(shared == reference)
    }
  }
}
