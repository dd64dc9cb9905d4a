package graft

import graft.operators.HybridSearch

class HybridSearchSpec extends SparkSpec {
  import spark.implicits._

  test("lexicalTopK ranks by distinct-token overlap, ties to the lowest id") {
    val q = Seq((1L, "alpha beta gamma")).toDF("qid", "text")
    val c = Seq(
      (10L, "alpha beta gamma extra"),   // 3 shared
      (11L, "alpha beta unrelated"),     // 2 shared
      (12L, "alpha alpha alpha"),        // 1 shared (distinct!)
      (13L, "nothing common here")       // 0 → absent
    ).toDF("cid", "text")
    val r = HybridSearch.lexicalTopK(q, "qid", "text", c, "cid", "text", 10)
      .select($"cid", $"rank", $"overlap").as[(Long, Long, Long)]
      .collect().sortBy(_._2)
    assert(r.map(_._1).toSeq == Seq(10L, 11L, 12L))
    assert(r.map(_._3).toSeq == Seq(3L, 2L, 1L))
  }

  test("bm25TopK: rarer matched terms outrank common ones; long docs penalized") {
    val q = Seq((1L, "alpha zeta")).toDF("qid", "text")
    val c = Seq(
      (10L, "zeta only here"),                 // matches the rare term
      (11L, "alpha common word"),              // matches the common term
      (12L, "alpha and alpha again and more"), // common term, longer doc
      (13L, "alpha filler"),                   // common term, short doc
      (14L, "nothing shared")                  // 0 → absent
    ).toDF("cid", "text")
    val r = HybridSearch.bm25TopK(q, "qid", "text", c, "cid", "text", 10)
      .select($"cid", $"rank", $"bm25_e9").as[(Long, Long, Long)]
      .collect().sortBy(_._2)
    // zeta appears in 1/5 docs, alpha in 3/5: idf(zeta) > idf(alpha), so
    // doc 10 must rank first.
    assert(r.head._1 == 10L)
    assert(!r.map(_._1).contains(14L))
    // Among the alpha-only docs, scores are positive and ordered.
    assert(r.map(_._3).forall(_ > 0L))
    assert(r.map(_._3).toSeq == r.map(_._3).sortBy(-_).toSeq)
  }

  test("bm25TopK score is an exact integer sum: repartition-stable") {
    val q = Seq((1L, "alpha beta gamma delta")).toDF("qid", "text")
    val c = (10L to 40L).map(i =>
      (i, s"alpha beta gamma delta word$i filler${i % 3}"))
      .toDF("cid", "text")
    val a = HybridSearch.bm25TopK(q, "qid", "text", c, "cid", "text", 5)
      .select($"cid", $"bm25_e9").as[(Long, Long)].collect().toMap
    val b = HybridSearch.bm25TopK(q, "qid", "text", c.repartition(7), "cid",
        "text", 5)
      .select($"cid", $"bm25_e9").as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("fuse: hits on both lists outrank single-list hits; ranks deterministic") {
    val dense = Seq((1L, 100L, 1L), (1L, 101L, 2L)).toDF("qid", "cid", "rank")
    val lex = Seq((1L, 101L, 1L), (1L, 102L, 2L)).toDF("qid", "cid", "rank")
    val f = HybridSearch.fuse(dense, lex, "qid", "cid", 10)
      .select($"cid", $"rank", $"rrf_score").as[(Long, Long, Double)]
      .collect().sortBy(_._2)
    // 101 appears in both lists (1/62 + 1/61) and must win over 100 (1/61).
    assert(f.head._1 == 101L)
    assertNear(f.head._3, 1.0 / 62 + 1.0 / 61, 1e-6)
    assert(f.map(_._1).toSet == Set(100L, 101L, 102L))
    // 100 (dense rank 1) beats 102 (lexical rank 2): 1/61 > 1/62.
    assert(f(1)._1 == 100L && f(2)._1 == 102L)
  }

  test("crossRerank: the tf interaction reorders what factorized legs cannot") {
    // One query repeating 'zeta' twice. Candidate 10 also repeats it twice
    // (interaction 2*2=4 on the rare term); candidate 11 holds one 'zeta'
    // plus common filler (interaction 2*1=2). A factorized DISTINCT-term
    // leg sees both as "has zeta" - only the pair scorer separates them.
    val q = Seq((1L, "zeta zeta")).toDF("qid", "text")
    val c = Seq(
      (10L, "zeta zeta"),
      (11L, "zeta common common"),
      (12L, "common common only")
    ).toDF("cid", "text")
    val cand = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L))
      .toDF("qid", "cid", "rank")
    val r = HybridSearch.crossRerank(cand, q, "qid", "text", c, "cid",
      "text", 10)
      .select($"cid", $"rank", $"xenc_e9").as[(Long, Long, Long)]
      .collect().sortBy(_._2)
    assert(r.map(_._1).toSeq == Seq(10L, 11L, 12L), r.mkString(","))
    // zero-overlap candidate keeps its slot at score 0
    assert(r.last._3 == 0L)
    // interaction doubling: cand 10's score is 2x cand 11's up to the
    // independent e9 rounding of each contribution (±1 on the integer)
    assert(math.abs(r(0)._3 - 2L * r(1)._3) <= 1L && r(1)._3 > 0L)
  }

  test("maxSimRerank: exact token match maxes at 1, char-gram softness beats disjoint, caps hold") {
    val q = Seq((1L, "retrieval engines")).toDF("qid", "text")
    val c = Seq(
      (10L, "retrieval engines"),   // both tokens exact: maxsim = 2
      (11L, "retrieving engine"),   // morphology-sharing: soft > disjoint
      (12L, "zzz qqq www")          // no shared grams: near-noise score
    ).toDF("cid", "text")
    val cand = Seq((1L, 10L), (1L, 11L), (1L, 12L)).toDF("qid", "cid")
    val r = HybridSearch.maxSimRerank(cand, q, "qid", "text", c, "cid",
      "text", 10, dim = 16, maxToks = 32)
      .select($"cid", $"rank", $"maxsim").as[(Long, Long, Double)]
      .collect().sortBy(_._2)
    assert(r.map(_._1).toSeq == Seq(10L, 11L, 12L), r.mkString(","))
    // every query token's best match in the identical doc is itself: cos=1
    assert(math.abs(r(0)._3 - 2.0) < 1e-9)
    // soft string similarity: shared 3-grams put 11 strictly between
    assert(r(1)._3 > r(2)._3 && r(1)._3 < 2.0)
    // maxToks cap: a doc whose matching tokens sit BEYOND the prefix cap
    // scores as if they were absent
    val longDoc = Seq((20L, (1 to 40).map(i => s"filler$i").mkString(" ")
      + " retrieval engines")).toDF("cid", "text")
    val r2 = HybridSearch.maxSimRerank(Seq((1L, 20L)).toDF("qid", "cid"),
      q, "qid", "text", longDoc, "cid", "text", 10, dim = 16, maxToks = 32)
      .select($"maxsim").as[Double].head()
    assert(r2 < 1.0, s"tokens beyond the cap must not contribute: $r2")
  }

  test("maxSimRerank hintBroadcast dial: OFF mode (fleet-scale batches, " +
      "AQE picks join strategies) is semantically identical to the hinted default") {
    val q = Seq((1L, "retrieval engines"), (2L, "alpha beta")).toDF("qid", "text")
    val c = Seq((10L, "retrieval engines"), (11L, "retrieving engine"),
      (12L, "alpha beta gamma"), (13L, "zzz qqq")).toDF("cid", "text")
    val cand = Seq((1L, 10L), (1L, 11L), (1L, 13L), (2L, 12L), (2L, 13L))
      .toDF("qid", "cid")
    def run(hint: Boolean) = HybridSearch.maxSimRerank(cand, q, "qid", "text",
      c, "cid", "text", 10, dim = 16, maxToks = 32, hintBroadcast = hint)
      .select($"qid", $"cid", $"rank", $"maxsim")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(run(true) == run(false))
  }
}
