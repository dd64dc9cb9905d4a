package graft

import graft.operators.EditJoin

class EditJoinSpec extends SparkSpec {
  import spark.implicits._

  private def brute(names: Seq[(String, Long)], maxDist: Int): Set[(String, String, Int)] = {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    (for {
      (a, _) <- names; (b, _) <- names if a < b
      d = lev(a, b) if d >= 1 && d <= maxDist
    } yield (a, b, d)).toSet
  }

  private def run(names: Seq[(String, Long)], maxDist: Int): Set[(String, String, Int)] =
    EditJoin.similarNamePairs(names.toDF("name", "cnt"), "name", "cnt", maxDist)
      .select("a_name", "b_name", "edit_dist")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet

  test("matches brute force, including zero-shared-gram short strings") {
    val names = Seq(
      "abc" -> 2L,      // vs "axc": lev 1 but ZERO shared bigrams — short path
      "axc" -> 1L,
      "small ring" -> 3L,
      "small king" -> 1L, // lev 1
      "smalt kins" -> 1L, // lev 2 from "small king"
      "red widget" -> 2L,
      "blue bolt" -> 1L,  // no partner within 2
      "rod widget" -> 1L, // lev 2 from "red widget"
      "x" -> 1L)          // len < q: no grams at all
    val got = run(names, 2)
    assert(got === brute(names, 2))
    assert(got.contains(("abc", "axc", 1)), "short zero-gram pair must survive")
  }

  test("weights ride through; identical strings excluded") {
    val names = Seq("aaaa bbbb" -> 5L, "aaaa bbbc" -> 7L)
    val rows = EditJoin.similarNamePairs(names.toDF("name", "cnt"), "name", "cnt", 2)
      .collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[Long]("a_cnt") === 5L && r.getAs[Long]("b_cnt") === 7L)
  }

  test("candidate join never cross-products the long side") {
    val names = (0 until 50).map(i => (f"prefixname$i%03d", 1L))
    val df = EditJoin.similarNamePairs(names.toDF("name", "cnt"), "name", "cnt", 2)
    val plan = df.queryExecution.executedPlan.toString
    // the q-gram candidate join must be hash/merge on the gram key, not NLJ
    // over every name pair; the bounded short bucket (empty here: len 13)
    // is the only permitted NLJ.
    val got = df.select("a_name", "b_name", "edit_dist").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(got === brute(names, 2))
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), s"expected keyed candidate join in:\n$plan")
  }
}
