package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Embedder}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup of 1
    (3L, "alpha beta gamma delta epsilon zeta eta iota"),  // near dup of 1
    (4L, "completely different words entirely here now today folks"),
    (5L, "xy"), // single token, < n-gram width
    (6L, "")).toDF("doc_id", "text")

  test("exactAssign groups identical texts under min id") {
    val r = Dedup.exactAssign(docs, "doc_id", "text")
      .select($"doc_id", $"rep_id", $"is_dup").as[(Long, Long, Boolean)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(r(1L) == ((1L, false)))
    assert(r(2L) == ((1L, true)))
    assert(r(3L)._2 == false && r(4L)._2 == false)
  }

  test("shingles: distinct n-grams, none for short/empty docs") {
    val sh = Dedup.shingles(docs, "doc_id", "text", 3)
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(sh(1L) == 6) // 8 tokens → 6 trigrams, all distinct
    assert(!sh.contains(5L) && !sh.contains(6L))
  }

  test("jaccardJoin: dup pair J=1, near pair 0<J<1, unrelated absent") {
    val r = Dedup.jaccardJoin(docs, "doc_id", "text", 3, 0.1)
      .select($"a_id", $"b_id", $"jaccard").as[(Long, Long, Double)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    assertNear(r((1L, 2L)), 1.0)
    assert(r((1L, 3L)) > 0.4 && r((1L, 3L)) < 1.0)
    assert(!r.keySet.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("minhashLshJoin is a subset of jaccardJoin and catches the dup pair") {
    val exact = Dedup.jaccardJoin(docs, "doc_id", "text", 3, 0.4)
      .select($"a_id", $"b_id", $"jaccard").as[(Long, Long, Double)].collect().toSet
    val lsh = Dedup.minhashLshJoin(docs, "doc_id", "text", 3, 0.4)
      .select($"a_id", $"b_id", $"jaccard").as[(Long, Long, Double)].collect().toSet
    assert(lsh.subsetOf(exact))
    assert(lsh.exists { case (a, b, j) => a == 1L && b == 2L && j == 1.0 })
  }

  test("simhash: identical texts identical fingerprints, near dups close, empty = 0") {
    val fp = Dedup.simhash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(fp(1L) == fp(2L))
    assert(fp(6L) == 0L)
    assert(fp.values.forall(v => v >= 0 && v < (1L << 32)))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(fp(1L), fp(3L)) < hamming(fp(1L), fp(4L)))
  }

  test("simhashPairs finds the exact-dup pair at hamming 0") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", 0)
      .select($"a_id", $"b_id", $"hamming").as[(Long, Long, Long)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
  }

  test("cosinePairsLsh is a subset of brute-force pairs and finds the dup pair") {
    val emb = Embedder.hashTfEmbed(docs, "doc_id", "text", 64)
    val brute = Dedup.cosinePairs(emb, "doc_id", "embedding", 0.8)
      .select($"a_id", $"b_id", $"cos_sim").as[(Long, Long, Double)].collect().toSet
    val lsh = Dedup.cosinePairsLsh(emb, "doc_id", "embedding", 0.8,
      dim = 64, bucketLength = 1.0)
      .select($"a_id", $"b_id", $"cos_sim").as[(Long, Long, Double)].collect().toSet
    assert(lsh.subsetOf(brute))
    assert(lsh.exists { case (a, b, c) => a == 1L && b == 2L && c >= 0.999999 })
  }

  test("semanticPairs: subset of brute force, finds co-clustered dups, carries list_id") {
    val emb = Embedder.hashTfEmbed(docs, "doc_id", "text", 64)
    val brute = Dedup.cosinePairs(emb, "doc_id", "embedding", 0.8)
      .select($"a_id", $"b_id", $"cos_sim").as[(Long, Long, Double)].collect().toSet
    val sem = Dedup.semanticPairs(emb, "doc_id", "embedding", 0.8, lists = 2)
      .select($"a_id", $"b_id", $"list_id", $"cos_sim")
      .as[(Long, Long, Int, Double)].collect()
    assert(sem.map(t => (t._1, t._2, t._4)).toSet.subsetOf(brute))
    // The exact dup of doc 1 must land in doc 1's cluster and be found.
    assert(sem.exists { case (a, b, _, c) => a == 1L && b == 2L && c >= 0.999999 })
    // A degenerate cluster cap drops everything (recall-only sacrifice).
    assert(Dedup.semanticPairs(emb, "doc_id", "embedding", 0.8, lists = 1,
      maxCluster = 2).count() == 0)
  }

  test("cosinePairs over hashTF embeddings surfaces dup + near-dup pairs") {
    val emb = Embedder.hashTfEmbed(docs, "doc_id", "text", 64)
    val pairs = Dedup.cosinePairs(emb, "doc_id", "embedding", 0.8)
      .select($"a_id", $"b_id", $"cos_sim").as[(Long, Long, Double)].collect()
    val m = pairs.map(t => (t._1, t._2) -> t._3).toMap
    assertNear(m((1L, 2L)), 1.0, 1e-6)
    assert(m.contains((1L, 3L)))
    assert(!m.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  /** Randomized corpus with planted near-dups: base docs, mutated copies
    * (token substitutions/drops), and unrelated noise. Fixed seed —
    * deterministic across runs. */
  private def randomCorpus(seed: Int, nBase: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
      "theta", "iota", "kappa", "lam", "mu", "nu", "xi", "omi")
    def doc(): Seq[String] = Seq.fill(3 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size)))
    val bases = Seq.fill(nBase)(doc())
    val mutated = bases.map { b =>
      if (rnd.nextBoolean() && b.size > 3) b.drop(1)
      else b.updated(rnd.nextInt(b.size), vocab(rnd.nextInt(vocab.size)))
    }
    val noise = Seq.fill(nBase)(doc())
    (bases ++ mutated ++ noise).zipWithIndex.map { case (ts, i) =>
      ((i + 1).toLong, ts.mkString(" ")) }
  }

  /** Independent Scala-side model of exact n-gram Jaccard (gram STRINGS,
    * not hashes): the losslessness witness for the prefix-filtered join. */
  private def bruteJaccard(corpus: Seq[(Long, String)], n: Int, minJ: Double)
      : Set[(Long, Long, Long, Double)] = {
    val sets = corpus.map { case (id, text) =>
      val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      id -> toks.sliding(n).filter(_.size == n).map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty)
    (for {
      (a, ga) <- sets; (b, gb) <- sets if a < b
      shared = (ga & gb).size.toLong
      j = BigDecimal(shared.toDouble / (ga.size + gb.size - shared))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if j >= minJ
    } yield (a, b, shared, j)).toSet
  }

  test("prefix-filtered jaccardJoin is LOSSLESS: equals brute force on random corpora") {
    for (seed <- Seq(7, 42)) {
      val corpus = randomCorpus(seed, nBase = 25)
      val got = Dedup.jaccardJoin(corpus.toDF("doc_id", "text"), "doc_id", "text", 3, 0.5)
        .select($"a_id", $"b_id", $"shared", $"jaccard")
        .as[(Long, Long, Long, Double)].collect().toSet
      val want = bruteJaccard(corpus, 3, 0.5)
      assert(got == want,
        s"seed $seed: prefix-filtered join diverged from brute force\n" +
          s"missing=${want -- got}\nextra=${got -- want}")
    }
  }

  test("incremental jaccard equals brute force restricted to (new, existing) pairs") {
    val corpus = randomCorpus(seed = 13, nBase = 25)
    val df = corpus.toDF("doc_id", "text")
    val tag = "spec_" + java.util.UUID.randomUUID.toString.replace("-", "").take(12)
    // Even ids are the delta: base k and its mutant k + 25 differ in parity,
    // so every planted near-duplicate is a (new, existing) pair.
    val t = graft.operators.JaccardIndex.build(df.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", 3, 0.5, tag, s"/tmp/graft_jidx_spec/$tag", 4)
    val got = graft.operators.JaccardIndex.incrementalJoin(spark, t,
        df.filter(col("doc_id") % 2 === 0), "doc_id", "text", 3, 0.5)
      .select($"a_id", $"b_id", $"shared", $"jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    val want = bruteJaccard(corpus, 3, 0.5).flatMap { case (a, b, sh, j) =>
      (a % 2 == 0, b % 2 == 0) match {
        case (true, false) => Some((a, b, sh, j))
        case (false, true) => Some((b, a, sh, j))
        case _ => None // both-new and both-existing pairs are out of scope
      }
    }
    assert(want.nonEmpty, "seed 13 corpus yields no (new, existing) pairs")
    assert(got == want,
      s"missing=${want -- got}\nextra=${got -- want}")
    Seq(t.docsets, t.prefix, t.dfc)
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
  }

  private def ccLabels(pairs: Seq[(Long, Long)], ids: Seq[Long]): Map[Long, Long] =
    Dedup.connectedComponents(pairs.toDF("a_id", "b_id"), ids.toDF("doc_id"),
      "doc_id").as[(Long, Long)].collect().toMap

  test("connectedComponents: chains collapse to min id, singletons self-label") {
    // chain 1-2-3 (diameter 2, needs >1 round), pair 10-11, singletons 20,21
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 20L, 21L).toDF("doc_id")
    val got = Dedup.connectedComponents(edges, nodes, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 21L))
    // no edges at all: every node is its own cluster
    val lone = Dedup.connectedComponents(edges.limit(0), nodes, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(lone == nodes.as[Long].collect().map(x => x -> x).toMap)
    // maxIter counts round 0: one round settles an edgeless graph, not a pair
    assert(Dedup.connectedComponents(edges.limit(0), nodes, "doc_id", maxIter = 1)
      .count() == nodes.count())
    intercept[IllegalStateException] {
      Dedup.connectedComponents(edges, nodes, "doc_id", maxIter = 1)
    }
  }

  test("connectedComponents reads its edge frame once") {
    // The edge frame is usually the uncached pair pipeline (prefix join +
    // verify); every extra read of it re-runs that whole pipeline.
    val reads = spark.sparkContext.longAccumulator("cc_edge_reads")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
    val edges = pairs.toDS().map { p => reads.add(1); p }.toDF("a_id", "b_id")
    val nodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L).toDF("doc_id")
    val got = Dedup.connectedComponents(edges, nodes, "doc_id")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L,
      11L -> 10L, 20L -> 20L))
    assert(reads.value == pairs.size.toLong,
      s"edge rows read ${reads.value} times for ${pairs.size} edges")
  }

  test("connectedComponents: a 400-deep chain converges within default maxIter") {
    // Diameter 400 — plain min-label propagation needs 400 rounds and threw
    // past maxIter 25; pointer doubling (L ← min(L, L∘L)) makes rounds
    // O(log diameter), so the default budget covers it with room to spare.
    val n = 400L
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val nodes = (0L until n).toDF("doc_id")
    val got = Dedup.connectedComponents(chain, nodes, "doc_id")
      .as[(Long, Long)].collect()
    assert(got.length == n && got.forall(_._2 == 0L))
  }

  test("connectedComponents: a hub with 200 leaves off the largest id labels all 0") {
    // Center 1000 with leaves 0..199: every label funnels through the hub.
    val got = ccLabels((0L until 200L).map(l => (1000L, l)), (0L until 200L) :+ 1000L)
    assert(got == ((0L until 200L) :+ 1000L).map(_ -> 0L).toMap)
  }

  test("connectedComponents: i -> 7i mod 80 graph equals a local union-find") {
    // A few mid-size components with cycles and cross links.
    val pairs = (0L until 80L).map(i => (i, (i * 7) % 80)).filter(p => p._1 != p._2)
    val parent = Array.tabulate(80)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else find(parent(x))
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    assert(ccLabels(pairs, 0L until 80L) == (0 until 80).map(i => i.toLong -> find(i).toLong).toMap)
  }

  test("persisted-index incrementalJoin equals the from-scratch incremental join") {
    val corpus = randomCorpus(seed = 29, nBase = 25)
    val df = corpus.toDF("doc_id", "text")
    // Even ids are the delta: base k and its mutant k + 25 differ in parity,
    // so every planted near-duplicate is a (new, existing) pair. From
    // scratch: the full self-join over corpus ∪ delta, kept to those pairs
    // and oriented new-first.
    val full = Dedup.jaccardJoin(df, "doc_id", "text", 3, 0.5)
      .select($"a_id", $"b_id", $"shared", $"jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    val want = full.flatMap { case (a, b, sh, j) =>
      (a % 2 == 0, b % 2 == 0) match {
        case (true, false) => Some((a, b, sh, j))
        case (false, true) => Some((b, a, sh, j))
        case _ => None
      }
    }
    val tag = "spec_" + java.util.UUID.randomUUID.toString.replace("-", "").take(12)
    val t = graft.operators.JaccardIndex.build(df.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", 3, 0.5, tag, s"/tmp/graft_jidx_spec/$tag", 4)
    // Streaming-leak guard: a delta probe is per-batch work and must not
    // register cache entries (a long-running stream would accumulate one
    // registry entry + pinned storage per micro-batch otherwise).
    val cachesBefore = Caches.size
    val got = graft.operators.JaccardIndex.incrementalJoin(spark, t,
        df.filter(col("doc_id") % 2 === 0), "doc_id", "text", 3, 0.5)
      .select($"a_id", $"b_id", $"shared", $"jaccard")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(Caches.size == cachesBefore,
      "incrementalJoin registered cache entries for a per-batch delta")
    assert(want.nonEmpty, "seed 29 corpus yields no (new, existing) pairs")
    assert(got == want, s"missing=${want -- got}\nextra=${got -- want}")
    Seq(t.docsets, t.prefix, t.dfc)
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
  }

  test("streaming incremental dedup: per-batch index probes equal the one-shot batch join") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = randomCorpus(seed = 31, nBase = 25)
    val df = corpus.toDF("doc_id", "text")
    val tag = "specs_" + java.util.UUID.randomUUID.toString.replace("-", "").take(12)
    // Even ids are the delta, so planted near-duplicates span the split.
    val t = graft.operators.JaccardIndex.build(df.filter(col("doc_id") % 2 =!= 0),
      "doc_id", "text", 3, 0.5, tag, s"/tmp/graft_jidx_spec/$tag", 4)
    val delta = corpus.filter(_._1 % 2 == 0)
    val want = graft.operators.JaccardIndex.incrementalJoin(spark, t,
        delta.toDF("doc_id", "text"), "doc_id", "text", 3, 0.5)
      .select($"a_id", $"b_id", $"jaccard").as[(Long, Long, Double)].collect().toSet
    assert(want.nonEmpty, "seed 31 corpus yields no (new, existing) pairs")
    val input =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Set.empty[(Long, Long, Double)]
    val query = graft.operators.JaccardIndex.incrementalJoinStream(spark, t,
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", 3, 0.5) { (pairs, _) =>
      got ++= pairs.select($"a_id", $"b_id", $"jaccard")
        .as[(Long, Long, Double)].collect()
    }
    try {
      val (b1, b2) = delta.splitAt(delta.size / 2)
      input.addData(b1); query.processAllAvailable()
      input.addData(b2); query.processAllAvailable()
      assert(got.toSet == want, s"missing=${want -- got}\nextra=${got.toSet -- want}")
    } finally query.stop()
    Seq(t.docsets, t.prefix, t.dfc)
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
  }

  test("pigeonhole-banded simhashPairs is LOSSLESS: equals brute hamming on random corpora") {
    for (seed <- Seq(11, 99); maxHamming <- Seq(1, 3)) {
      val corpus = randomCorpus(seed, nBase = 25)
      val df = corpus.toDF("doc_id", "text")
      val fps = Dedup.simhash(df, "doc_id", "text")
        .as[(Long, Long)].collect().sortBy(_._1)
      val want = (for {
        (a, ha) <- fps; (b, hb) <- fps if a < b
        d = java.lang.Long.bitCount(ha ^ hb).toLong if d <= maxHamming
      } yield (a, b, d)).toSet
      val got = Dedup.simhashPairs(df, "doc_id", "text", maxHamming)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == want, s"seed $seed maxHamming $maxHamming: banded != brute\n" +
        s"missing=${want -- got}\nextra=${got -- want}")
    }
  }

  test("containmentJoin: finds a quote inside a long page that Jaccard misses") {
    val quote = "alpha beta gamma delta epsilon zeta eta theta"
    val filler = (1 to 60).map(i => s"filler$i").mkString(" ")
    val docs = Seq(
      (1L, s"$filler $quote"),          // long page containing the quote
      (2L, s"$quote extra"),            // the quote + one token: 7 grams, 6 shared
      (3L, "unrelated content entirely different words here"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentJoin(docs, "doc_id", "text", 3, 0.75)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L)))
    // same pair is far below any whole-doc Jaccard threshold
    val j = Dedup.jaccardJoin(docs, "doc_id", "text", 3, 0.5).count()
    assert(j === 0L)
    // 6 of doc2's 7 grams land in doc1: containment = round6(6/7)
    val c = Dedup.containmentJoin(docs, "doc_id", "text", 3, 0.75)
      .collect().head.getAs[Double]("containment")
    assert(c === 0.857143)
  }
}
