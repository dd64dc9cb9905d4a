package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis scalar functions for the training-data pipeline
  * (BASELINE.json north star: language-ID, quality scoring, token counting,
  * document fingerprinting) plus the reference's pre-embed cleanup (F6,
  * `create_skill_embeddings.py:12`).
  *
  * Everything here is a pure Catalyst column expression (codegen'd, no UDFs),
  * and every primitive is chosen to be *portably deterministic*: md5-derived
  * token hashes and explicit arithmetic reproduce bit-identically in the
  * DuckDB oracle, so the whole suite is hash-checkable cross-engine.
  */
object TextFunctions {

  /** F6 — newline strip before embedding (`create_skill_embeddings.py:12`). */
  def newlineStrip(text: Column): Column = regexp_replace(text, "\n", " ")

  /** Lowercased whitespace tokens, empties dropped. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => length(t) > 0)

  /** Portable 32-bit token hash: first 8 hex digits of md5 as a long
    * (0 .. 2^32-1). md5 is identical in Spark and DuckDB, making every
    * derived operator (hashing embedder, minhash, simhash, fingerprints)
    * oracle-checkable. Swap for xxhash64 when cross-engine parity is not
    * needed and hashing dominates the profile. */
  def tokenHash(t: Column): Column =
    conv(substring(md5(t), 1, 8), 16, 10).cast("long")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish subword token count: runs of letters, runs of digits, and runs
    * of other non-space symbols each count as one token — the word/number/
    * punctuation split every byte-pair tokenizer starts from. The pattern is
    * RE2-safe (no lookarounds) so the oracle engine counts identically. */
  val BpeTokenPattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]+"
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit(BpeTokenPattern), lit(0))).cast("long")

  /** Mean token length over a materialized token array, 0.0 for token-less
    * text (ANSI-safe guard). Takes tokens, not text: every `tokens(text)`
    * reference re-runs the regex tokenizer (no CSE around higher-order
    * functions), so multi-feature projections tokenize once. */
  def avgTokenLenFromTokens(toks: Column): Column = {
    val n = size(toks)
    when(n === 0, lit(0.0d)).otherwise(
      aggregate(transform(toks, t => length(t).cast("long")), lit(0L), _ + _) / n)
  }

  /** Share of characters that are not alphanumeric/whitespace. */
  def punctRatio(text: Column): Column = {
    val total = length(text)
    when(total === 0, lit(0.0d)).otherwise(
      length(regexp_replace(lower(text), "[a-z0-9\\s]", "")).cast("double") / total)
  }

  /** Share of tokens found in `words`. */
  def stopwordRatioFromTokens(toks: Column, words: Seq[String]): Column = {
    val n = size(toks)
    when(n === 0, lit(0.0d)).otherwise(
      stopwordHits(toks, words).cast("double") / n)
  }

  def stopwordHits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  /** Tiny disjoint function-word lists for the language-ID heuristic. */
  val langWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "es" -> Seq("el", "la", "los", "que", "y", "por"),
    "de" -> Seq("der", "die", "und", "das", "nicht", "ein"),
    "fr" -> Seq("le", "les", "des", "une", "dans", "est"))

  /** Language-ID: argmax of per-language function-word hits, ties broken in
    * [[langWords]] order, no hits at all → "und" (ISO 639-3 undetermined). */
  def langId(text: Column): Column = langIdFromTokens(tokens(text))

  def langIdFromTokens(toks: Column): Column = {
    val hits = langWords.map { case (lang, ws) => lang -> stopwordHits(toks, ws) }
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    hits.foldRight(lit("und")) { case ((lang, h), elseCol) =>
      when(h > 0 && h === best, lit(lang)).otherwise(elseCol)
    }
  }

  /** Composite quality score in [0,1]: rewards enough tokens, low
    * punctuation noise, and natural-language function-word density. */
  def qualityScore(text: Column): Column =
    qualityScoreFromTokens(text, tokens(text))

  def qualityScoreFromTokens(text: Column, toks: Column): Column =
    lit(0.4d) * least(lit(1.0d), size(toks).cast("long") / lit(100.0d)) +
      lit(0.3d) * (lit(1.0d) - punctRatio(text)) +
      lit(0.3d) * least(lit(1.0d), lit(4.0d) * stopwordRatioFromTokens(toks, langWords.head._2))

  /** Order-sensitive rolling document fingerprint: polynomial fold of the
    * token-hash stream mod 1e9+7. Reordered or edited token streams produce
    * different fingerprints; identical texts collide exactly. */
  def fingerprint(text: Column): Column =
    aggregate(transform(tokens(text), tokenHash(_)),
      lit(0L), (acc, h) => (acc * 31L + h) % 1000000007L)
}
