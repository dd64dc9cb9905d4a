package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Edit-distance similarity join (fuzzy entity resolution / fuzzy dedup).
  *
  * Finds all pairs of strings within Levenshtein distance `maxDist` without
  * an all-pairs comparison, using the positional q-gram count filter of
  * Gravano et al., "Approximate String Joins in a Database (Almost) for
  * Free", VLDB 2001:
  *
  *   - LENGTH filter: ed(a,b) <= k requires | |a| - |b| | <= k.
  *   - COUNT filter: each edit destroys at most q of a string's positional
  *     q-grams and shifts survivors by at most k positions, so ed(a,b) <= k
  *     requires at least (max(|a|,|b|) - q + 1) - q*k of a's gram positions
  *     to find an equal gram in b within position distance k.
  *
  * Candidate generation is therefore ONE equi-join on the q-gram value
  * (never a cross product), grouped per pair with a distinct-position
  * coverage count, and only survivors pay the O(|a|*|b|) `levenshtein`
  * verification — the AllPairs/PPJoin shape `Dedup.jaccardPairs` already
  * uses, specialised to edit distance. Strings short enough that k edits
  * can destroy EVERY gram (max(|a|,|b|) < q*k + q, e.g. < 6 for q=2, k=2)
  * can share zero grams while matching, so they are paired within their own
  * bounded bucket instead: the domain of strings of length < q*k+q is
  * alphabet-bounded, so that bucket stays O(1)-ish at any corpus size.
  *
  * 100 TB posture: the join runs over DISTINCT strings (the caller passes a
  * (string, weight) frame, typically `groupBy(str).count`), so corpus
  * growth that repeats names adds NO join work — only the distinct-string
  * vocabulary pays, and the per-gram fanout is bounded by the gram's
  * document frequency in that vocabulary. Verification cost is
  * candidate-bounded. No stage materialises an all-pairs frame.
  *
  * Reference scope: the reference dedups rows only by exact id/content
  * equality (its loaders' upsert keys); the fuzzy string join is an
  * engine-completeness ER operator next to the Jaccard/MinHash family in
  * `Dedup.scala`.
  */
object EditJoin {

  /** All unordered pairs (a < b lexicographically) of distinct `nameCol`
    * values within Levenshtein distance [1, maxDist], with both sides'
    * `cntCol` weights attached.
    *
    * @param names distinct strings: one row per value of `nameCol`, with a
    *              row-count/weight column `cntCol` (duplicate name rows
    *              would produce duplicate output pairs).
    * @return (a_name, b_name, edit_dist, a_cnt, b_cnt)
    */
  def similarNamePairs(names: DataFrame, nameCol: String, cntCol: String,
      maxDist: Int, q: Int = 2): DataFrame = {
    require(maxDist >= 1 && q >= 1, s"need maxDist>=1, q>=1; got $maxDist, $q")
    val base = names.select(col(nameCol).as("__name"), col(cntCol).as("__cnt"),
      length(col(nameCol)).as("__len"))

    // Positional q-grams: (pos, substr(name, pos+1, q)) for pos in
    // [0, len-q]. Guarded so len < q produces an empty list (Spark's
    // sequence(0, -1) would count DOWN).
    val grams = base
      .filter(col("__len") >= q)
      .select(col("__name"), col("__len"),
        posexplode(expr(
          s"transform(sequence(0, length(__name) - $q), i -> substring(__name, i + 1, $q))"))
          .as(Seq("__pos", "__gram")))

    def side(p: String): DataFrame = grams.select(
      col("__name").as(s"${p}_name"), col("__len").as(s"${p}_len"),
      col("__pos").as(s"${p}_pos"), col("__gram").as(s"${p}_gram"))

    // Pairs where k edits cannot destroy every gram: max(len) >= q*k + q.
    // Equi-join on the gram VALUE; position and length filters ride along.
    val longMin = q * maxDist + q
    val counted = side("a").join(side("b"),
        col("a_gram") === col("b_gram") &&
        col("a_name") < col("b_name") &&
        abs(col("a_len") - col("b_len")) <= maxDist &&
        abs(col("a_pos") - col("b_pos")) <= maxDist &&
        greatest(col("a_len"), col("b_len")) >= longMin)
      .groupBy("a_name", "b_name", "a_len", "b_len")
      .agg(countDistinct(col("a_pos")).as("__m"))
      .filter(col("__m") >=
        greatest(col("a_len"), col("b_len")) - (q - 1) - q * maxDist)
      .select("a_name", "b_name")

    // Short bucket: both strings shorter than q*k + q — the only pairs the
    // count filter cannot bound. Alphabet-bounded domain; paired directly.
    val short = base.filter(col("__len") < longMin)
    val shortPairs = short.select(col("__name").as("a_name"), col("__len").as("a_len"))
      .join(short.select(col("__name").as("b_name"), col("__len").as("b_len")),
        col("a_name") < col("b_name") &&
        abs(col("a_len") - col("b_len")) <= maxDist)
      .select("a_name", "b_name")

    val cnts = base.select(col("__name"), col("__cnt"))
    counted.unionAll(shortPairs).distinct()
      .withColumn("edit_dist", levenshtein(col("a_name"), col("b_name")))
      .filter(col("edit_dist").between(1, maxDist))
      .join(cnts.select(col("__name").as("a_name"), col("__cnt").as("a_cnt")), "a_name")
      .join(cnts.select(col("__name").as("b_name"), col("__cnt").as("b_cnt")), "b_name")
      .select("a_name", "b_name", "edit_dist", "a_cnt", "b_cnt")
  }
}
