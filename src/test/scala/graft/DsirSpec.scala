package graft

import graft.operators.Dsir

class DsirSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "spark shuffle join spark shuffle join"),
    (2L, "spark shuffle join window agg"),
    (3L, "cat dog bird cat dog bird"),
    (4L, "cat dog fish pond"),
    (5L, "")
  ).toDF("id", "text")

  test("importanceWeights: target-like docs outweigh dissimilar ones; empty doc is 0") {
    val target = corpus.filter($"id" === 1L)
    val w = Dsir.importanceWeights(corpus, target, "id", "text", 256)
      .as[(Long, Long)].collect().toMap
    assert(w.keySet == Set(1L, 2L, 3L, 4L, 5L))
    // Doc 2 shares the target's n-grams, docs 3/4 share none.
    assert(w(2L) > w(3L) && w(2L) > w(4L))
    assert(w(1L) > w(3L))
    assert(w(5L) == 0L)
  }

  test("importanceWeights: exact integer sum is repartition-stable") {
    val target = corpus.filter($"id" === 1L)
    val a = Dsir.importanceWeights(corpus, target, "id", "text", 256)
      .as[(Long, Long)].collect().toMap
    val b = Dsir.importanceWeights(corpus.repartition(7), target, "id", "text", 256)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("gumbelTopM: m rows, dense ranks, deterministic across runs") {
    val target = corpus.filter($"id" === 1L)
    val w = Dsir.importanceWeights(corpus, target, "id", "text", 256)
    val s1 = Dsir.gumbelTopM(w, "id", 3).as[(Long, Long, Long)].collect().sortBy(_._2)
    val s2 = Dsir.gumbelTopM(w, "id", 3).as[(Long, Long, Long)].collect().sortBy(_._2)
    assert(s1.length == 3 && s1.map(_._2).toSeq == Seq(1L, 2L, 3L))
    assert(s1.toSeq == s2.toSeq)
  }

  test("scoreWith on out-of-pool docs: unseen buckets take the default λ, no rows dropped") {
    val target = corpus.filter($"id" === 1L)
    val model = Dsir.fitLambda(corpus, target, "id", "text", 256)
    val unseen = Seq((99L, "zzz qqq www zzz qqq")).toDF("id", "text")
    val w = Dsir.scoreWith(model, unseen, "id", "text", 256)
      .as[(Long, Long)].collect().toMap
    // Every feature row must survive the left join: 5 unigrams + 4 bigrams,
    // each weighted (possibly by the default λ) — a dropped-terms bug
    // would zero this.
    assert(w.keySet == Set(99L) && w(99L) != 0L)
  }

  test("scoreWith: a target-only token outranks never-seen gibberish") {
    // The target corpus carries 'kubernetes', which the pool NEVER saw —
    // the λ table must keep its FITTED target probability for that bucket
    // (the full-outer leg), so an incoming doc repeating it beats pure
    // gibberish instead of flooring to the same default.
    val target = Seq((6L, "kubernetes kubernetes kubernetes")).toDF("id", "text")
    val model = Dsir.fitLambda(corpus, target, "id", "text", 4096)
    val probe = Seq(
      (101L, "kubernetes kubernetes kubernetes"),
      (102L, "zzzqq wwwxx vvvyy uuuzz")).toDF("id", "text")
    val w = Dsir.scoreWith(model, probe, "id", "text", 4096)
      .as[(Long, Long)].collect().toMap
    assert(w(101L) > w(102L), s"target-signature doc must outrank gibberish: $w")
  }

  test("streaming scores: micro-batch results equal the batch operator per batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val target = corpus.filter($"id" === 1L)
    val model = Dsir.fitLambda(corpus, target, "id", "text", 256)
    val rows = corpus.as[(Long, String)].collect().toSeq
    val (b1, b2) = rows.splitAt(3)
    val input = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Map[Long, Array[(Long, Long)]]()
    val query = Dsir.scoreStream(input.toDF().toDF("id", "text"), model,
      "id", "text", 256)(
      (df, id) => got(id) = df.orderBy("id").as[(Long, Long)].collect())
    try {
      input.addData(b1); query.processAllAvailable()
      input.addData(b2); query.processAllAvailable()
    } finally query.stop()
    def batchOf(rs: Seq[(Long, String)]) =
      Dsir.scoreWith(model, rs.toDF("id", "text"), "id", "text", 256)
        .orderBy("id").as[(Long, Long)].collect()
    assert(got(0L).toSeq == batchOf(b1).toSeq)
    assert(got(1L).toSeq == batchOf(b2).toSeq)
  }

  test("plan: λ model joins broadcast onto the pool terms; top-m is a bounded take, not a global sort-window") {
    val target = corpus.filter($"id" === 1L)
    val w = Dsir.importanceWeights(corpus, target, "id", "text", 256)
    val wPlan = w.queryExecution.executedPlan.toString
    assert(wPlan.contains("BroadcastHashJoin"),
      s"expected the fixed-size bucket model broadcast:\n$wPlan")
    val sel = Dsir.gumbelTopM(w, "id", 3)
    val sPlan = sel.queryExecution.executedPlan.toString
    assert(sPlan.contains("TakeOrderedAndProject"),
      s"expected distributed top-m selection:\n$sPlan")
  }
}
