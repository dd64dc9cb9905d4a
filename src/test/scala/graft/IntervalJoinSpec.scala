package graft

import graft.operators.IntervalJoin

class IntervalJoinSpec extends SparkSpec {
  import spark.implicits._

  // deterministic pseudo-random intervals spanning 0..3 buckets at w=10
  private val left = (0 until 40).map { i =>
    val s = (i * 37) % 100; (i.toLong, s.toLong, (s + 1 + (i * 13) % 30).toLong)
  }
  private val right = (0 until 40).map { i =>
    val s = (i * 29 + 5) % 100; (i.toLong + 1000, s.toLong, (s + 1 + (i * 7) % 25).toLong)
  }

  private def brute: Set[(Long, Long)] =
    (for {
      (li, ls, le) <- left; (ri, rs, re) <- right
      if ls < re && rs < le
    } yield (li, ri)).toSet

  test("matches brute force exactly once per pair, any bucket width") {
    val l = left.toDF("l_id", "l_s", "l_e")
    val r = right.toDF("r_id", "r_s", "r_e")
    for (w <- Seq(1L, 7L, 10L, 1000L)) {
      val rows = IntervalJoin.overlapJoin(l, "l_s", "l_e", r, "r_s", "r_e", w)
        .select("l_id", "r_id").collect().map(x => (x.getLong(0), x.getLong(1)))
      assert(rows.length === rows.distinct.length, s"dup pairs at w=$w")
      assert(rows.toSet === brute, s"wrong pair set at w=$w")
    }
  }

  test("half-open: touching intervals do not match; containment does") {
    val l = Seq((1L, 0L, 10L)).toDF("l_id", "l_s", "l_e")
    val r = Seq((1L, 10L, 20L), (2L, 9L, 10L), (3L, 2L, 3L))
      .toDF("r_id", "r_s", "r_e")
    val got = IntervalJoin.overlapJoin(l, "l_s", "l_e", r, "r_s", "r_e", 4L)
      .select("r_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(2L, 3L)) // [10,20) touches only; [9,10) and [2,3) overlap
  }

  test("empty and inverted intervals are dropped, not mis-joined") {
    val l = Seq((1L, 10L, 10L), (2L, 30L, 20L), (3L, 0L, 5L))
      .toDF("l_id", "l_s", "l_e") // empty, inverted, valid
    val r = Seq((9L, 0L, 100L)).toDF("r_id", "r_s", "r_e")
    val got = IntervalJoin.overlapJoin(l, "l_s", "l_e", r, "r_s", "r_e", 5L)
      .select("l_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(3L))
  }

  test("plans as a hash join on the bucket, not a nested loop") {
    val l = left.toDF("l_id", "l_s", "l_e")
    val r = right.toDF("r_id", "r_s", "r_e")
    val plan = IntervalJoin.overlapJoin(l, "l_s", "l_e", r, "r_s", "r_e", 10L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"range join fell back to NLJ:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected keyed join in:\n$plan")
  }
}
