package graft

import graft.operators.{Dedup, Winnow}

class WinnowSpec extends SparkSpec {
  import spark.implicits._

  /** Reference winnowing: the paper's definition, literally — every valid
    * window's rightmost minimum-hash position, over the same rolling-hash
    * grams the operator reads. */
  private def brute(docs: Seq[(Long, String)], k: Int,
      w: Int): Set[(Long, Long, Long)] = {
    def tokenHash(t: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(t.getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16)
    }
    docs.flatMap { case (id, text) =>
      val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val grams = (0 to toks.length - k).map { i =>
        toks.slice(i, i + k).foldLeft(0L)((a, t) =>
          (a * 31 + tokenHash(t)) % Dedup.ShingleP)
      }
      if (grams.isEmpty) Seq.empty
      else {
        val starts = if (grams.length < w) Seq(0)
          else 0 to grams.length - w
        starts.map { s0 =>
          val win = grams.slice(s0, math.min(s0 + w, grams.length))
          val m = win.min
          val pos = s0 + win.lastIndexOf(m) // rightmost min
          (id, (pos + 1).toLong, m)         // 1-based fp_pos
        }.distinct
      }
    }.toSet
  }

  private val k = 3
  private val w = 4

  test("matches the paper's definition, rightmost-min ties included") {
    // doc 2 repeats a 6-token phrase so identical gram hashes collide
    // inside one window — the tie-break case.
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog tonight",
      2L -> "alpha beta gamma alpha beta gamma alpha beta gamma delta",
      3L -> "one two three four",   // 2 grams < w: single partial window
      4L -> "just two",             // len < k: no grams, no fingerprints
      5L -> "aa bb cc dd ee ff gg hh ii jj kk ll mm nn oo pp")
    val got = Winnow.fingerprints(docs.toDF("doc_id", "text"),
        "doc_id", "text", k, w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === brute(docs, k, w))
    assert(!got.exists(_._1 == 4L))
    assert(got.count(_._1 == 3L) === 1, "short doc gets one partial window")
  }

  test("guarantee: a shared run of >= w+k-1 tokens shares a fingerprint") {
    val shared = "zeta eta theta iota kappa lambda" // 6 tokens = w+k-1
    val docs = Seq(
      10L -> s"completely unrelated prefix words $shared",
      11L -> s"$shared and then a different continuation here")
    val fp = Winnow.fingerprints(docs.toDF("doc_id", "text"),
      "doc_id", "text", k, w)
    val byDoc = fp.collect().groupBy(_.getLong(0))
      .map { case (d, rs) => d -> rs.map(_.getLong(2)).toSet }
    assert(byDoc(10L).intersect(byDoc(11L)).nonEmpty)
  }

  test("pair census: planted overlap found, boilerplate cap drops a hash") {
    val boiler = "standard footer text appended to every single document"
    val docs = (1L to 6L).map(i => i -> s"unique body $i words number$i $boiler") :+
      (7L -> "totally distinct content with no footer at all present okay")
    // maxDf=2 kills the 6-doc boilerplate fingerprints; no pair survives
    val capped = Winnow.sharedFingerprintPairs(docs.toDF("doc_id", "text"),
      "doc_id", "text", k, w, 1, 2)
    assert(capped.count() === 0L)
    // maxDf=10 keeps them; all 15 boilerplate pairs found
    val open = Winnow.sharedFingerprintPairs(docs.toDF("doc_id", "text"),
      "doc_id", "text", k, w, 1, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(open === (1L to 6L).combinations(2)
      .map(p => (p(0), p(1))).toSet)
  }
}
