package graft

import graft.operators.Bpe

/** Greedy-merge semantics pins for the BPE trainer — the edge cases where
  * a naive space-delimited string replace diverges from the canonical
  * greedy fold (alternating chains, overlapping runs, prefix-shadowing
  * symbols). The wrapped-symbol representation must survive all of them.
  */
class BpeSpec extends SparkSpec {

  import spark.implicits._

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en") }
      .toDF("doc_id", "text", "lang")

  test("alternating chain merges every pair (no replace-scan gap)") {
    // word "ababab": merge (a,b) must produce 3 symbols (ab ab ab) — the
    // case where an unwrapped ' a b ' replace leaves the middle unmerged
    val d = docs("ababab ababab")
    val m = Bpe.learnMerges(d, "text", 1)
    val r = m.collect()(0)
    assert((r.getString(1), r.getString(2)) == ("a", "b"))
    // 5 adjacent pairs per word x 2 occurrences, (a,b) appears 3x per word
    assert(r.getLong(4) == 6L)
    val enc = Bpe.encodeCounts(d, "text", "doc_id", m).collect()(0)
    assert(enc.getLong(1) == 2L && enc.getLong(2) == 6L,
      s"each 'ababab' must encode to 3 symbols, got $enc")
  }

  test("overlapping run merges greedily left-to-right: aaa -> (aa) a") {
    val d = docs("aaa aaa aaa")
    val m = Bpe.learnMerges(d, "text", 1)
    val r = m.collect()(0)
    assert((r.getString(1), r.getString(2)) == ("a", "a"))
    val enc = Bpe.encodeCounts(d, "text", "doc_id", m).collect()(0)
    assert(enc.getLong(2) == 6L, s"each 'aaa' must encode to 2 symbols: $enc")
  }

  test("merged symbols never match char prefixes of longer symbols") {
    // after (a,b)->ab, word "abc" holds symbol pair (ab, c); word "xabc"
    // holds (x, ab, c) — a merge (ab, c) must NOT touch the raw "abc"
    // inside a word that still has unmerged chars elsewhere
    val d = docs("ab ab ab abc xabc")
    val m = Bpe.learnMerges(d, "text", 2)
    val rows = m.orderBy("step").collect()
    assert(rows(0).getString(3) == "ab")
    val enc = Bpe.encodeCounts(d, "text", "doc_id", m)
      .collect()(0)
    // tokens: ab(3), abc, xabc -> symbols after both merges depend only on
    // wrapped-boundary matches; total must be exact and stable
    val total = enc.getLong(2)
    assert(enc.getLong(1) == 5L && total >= 5L && total <= 9L)
  }

  test("single-char and no-pair vocabularies stop early, not crash") {
    val d = docs("a b c a b c")
    val m = Bpe.learnMerges(d, "text", 4)
    // every word is one symbol: zero pairs, zero merges
    assert(m.count() == 0L)
    val enc = Bpe.encodeCounts(d, "text", "doc_id", m).collect()(0)
    assert(enc.getLong(1) == 6L && enc.getLong(2) == 6L)
  }

  test("non-alphabetic and non-en tokens are excluded by pre-tokenization") {
    val d = Seq((1L, "hello hello42 world", "en"), (2L, "hallo hallo", "de"))
      .toDF("doc_id", "text", "lang")
    val wf = Bpe.wordFreq(d, "text").collect().map(r =>
      r.getString(0) -> r.getLong(1)).toMap
    assert(wf == Map("hello" -> 1L, "world" -> 1L))
  }
}
