package graft

import graft.operators.TextRank

class TextRankSpec extends SparkSpec {
  import spark.implicits._

  test("co-occurrence edges: window pairs, normalized, symmetric, distinct") {
    val docs = Seq("a b c a", "x y").toDF("text")
    // window 2 over "a b c a": (a,b),(b,c),(c,a) at d=1; (a,c),(b,a) at d=2
    // → unordered {a,b},{b,c},{a,c}; "x y" adds {x,y}; self-pair (a,a) at
    // d=3 is out of window, (a,?) dupes collapse
    val e = TextRank.cooccurrenceEdges(docs, "text", 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val und = Set(("a", "b"), ("a", "c"), ("b", "c"), ("x", "y"))
    assert(e === und ++ und.map(_.swap))
  }

  test("window 1 is adjacency only; self-pairs from repeats are dropped") {
    val docs = Seq("w w v").toDF("text")
    val e = TextRank.cooccurrenceEdges(docs, "text", 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(e === Set(("v", "w"), ("w", "v")))
  }

  test("keywords: hub word of a star graph ranks first, output bounded") {
    // "hub x" pairs for several x: hub has the highest degree → top rank
    val docs = Seq("hub aa", "hub bb", "hub cc", "hub dd", "aa bb")
      .toDF("text")
    val kw = TextRank.keywords(docs, "text", 1, 5, 3).collect()
    assert(kw.length === 3)
    assert(kw.head.getString(0) === "hub")
    val scores = kw.map(_.getLong(1))
    assert(scores.sameElements(scores.sorted.reverse))
  }
}
