package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.Cosine

/** Binary (1-bit) quantization + Hamming-distance retrieval.
  *
  * The most aggressive point on the quantization ladder the engine already
  * carries (float32 → int8 → PQ codes): keep only the SIGN of each
  * dimension, packed 32 dims per 64-bit word — a 64-dim embedding becomes
  * two BIGINTs, 32× smaller at rest than float64 and compared with two
  * XOR+popcount instructions instead of 64 multiply-adds. At 100 TB this is
  * the tier that lets the whole corpus' codes live in executor memory while
  * the float vectors stay on disk for the refine pass; the binary sketch of
  * Charikar's SimHash argument (STOC 2002) makes Hamming distance on sign
  * bits a cosine estimator, which is why the shortlist-then-refine cascade
  * ([[hammingRefine]]) recovers exact-search quality (`eval_binary_recall`
  * pins the recall).
  *
  * Reference anchor: the vector stores the reference loads into each expose
  * a BINARY/Hamming metric variant (e.g. load_skill_vectors_milvus.py:56
  * declares the metric per collection); this is that face, Spark-first.
  *
  * Everything is engine-portable integer arithmetic: bit packing is an
  * exact left-fold (acc·2 + bit over the reversed word slice — no
  * shift-by-column, stays in whole-stage codegen), distances are
  * `bit_count(xor)` sums, and ties break on (dist, id) like every other
  * k-NN face, so the DuckDB oracles replay bit-for-bit.
  */
object BinaryQuant {

  /** Bits packed per code word. 32 (not 64) so the packed word never touches
    * the BIGINT sign bit: both engines then agree trivially on compares and
    * shifts, and the word is also exact in a DOUBLE if an oracle casts. */
  val WordBits = 32

  /** Code word `w` (0-based) of a packed vector: bit i set iff
    * v[w·32+i] > 0. Exact left fold acc·2+bit over the reversed slice —
    * value = Σ bit_i · 2^i < 2^32. */
  def packWord(vec: Column, w: Int): Column =
    aggregate(
      reverse(transform(slice(vec, w * WordBits + 1, WordBits),
        x => when(x > 0d, lit(1L)).otherwise(lit(0L)))),
      lit(0L), (acc, b) => acc * lit(2L) + b)

  /** All code words for a `dim`-dimensional vector (dim must be a multiple
    * of [[WordBits]] — the testdata embeddings are 64 = 2 words). */
  def packWords(vec: Column, dim: Int): Seq[Column] = {
    require(dim % WordBits == 0, s"dim $dim not a multiple of $WordBits")
    (0 until dim / WordBits).map(w => packWord(vec, w))
  }

  /** Hamming distance between two packed codes: Σ_w popcount(a_w ⊕ b_w). */
  def hammingDist(a: Seq[Column], b: Seq[Column]): Column =
    a.zip(b).map { case (x, y) => bit_count(x.bitwiseXOR(y)).cast("long") }
      .reduce(_ + _)

  /** Sign-bit codes for a frame: (idCol, code_0..code_{n-1}, n_ones). */
  def quantize(df: DataFrame, idCol: String, vecCol: String, dim: Int): DataFrame = {
    val words = packWords(col(vecCol), dim)
    df.select(
      col(idCol) +:
        words.zipWithIndex.map { case (c, i) => c.as(s"code_$i") } :+
        words.map(c => bit_count(c).cast("long")).reduce(_ + _).as("n_ones"): _*)
  }

  /** Top-k by Hamming distance over packed sign bits — the binary tier's
    * search. Same physical shape as KnnJoin.exact (broadcast queries,
    * map-side distance, bounded-heap partial aggregate → O(|Q|·k) shuffle),
    * but the scan side touches only the packed words: 16 bytes per vector
    * instead of 512, and the distance is integer xor/popcount inside
    * whole-stage codegen. Output (queryIdCol, idCol, rank, dist) with dist
    * the integer Hamming distance as double, ties on (dist, id). */
  def hammingTopK(
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, k: Int): DataFrame = {
    val nw = dim / WordBits
    val qw = packWords(col(queryVecCol), dim)
    val q = broadcast(queries.select(
      col(queryIdCol) +: qw.zipWithIndex.map { case (c, i) => c.as(s"__q$i") }: _*))
    val keyCol = KnnJoin.keyColumn(corpus, idCol)
    val cw = packWords(col(vecCol), dim)
    val c = corpus.select(
      keyCol +: cw.zipWithIndex.map { case (cc, i) => cc.as(s"__c$i") }: _*)
    val dist = hammingDist(
      (0 until nw).map(i => col(s"__q$i")),
      (0 until nw).map(i => col(s"__c$i"))).cast("double")
    val cands = q.join(c).select(col(queryIdCol), dist.as("dist"), col("__cid"))
    KnnJoin.topkOfCandidates(cands, queryIdCol, idCol, k)
  }

  /** DuckDB twin of [[packWord]] — same value via Σ bit_i·2^i (`<<` takes a
    * column shift amount in DuckDB, so no fold needed). `vecExpr` must be a
    * DOUBLE[] expression; result cast to BIGINT. */
  def packWordSql(vecExpr: String, w: Int): String =
    s"CAST(list_sum(list_transform(range($WordBits), i -> CASE WHEN " +
      s"($vecExpr)[${w * WordBits} + i + 1] > 0 THEN (1::BIGINT << i) " +
      s"ELSE 0::BIGINT END)) AS BIGINT)"

  /** DuckDB twin of [[hammingDist]] over word-column name pairs. */
  def hammingDistSql(pairs: Seq[(String, String)]): String =
    pairs.map { case (a, b) => s"bit_count(xor($a, $b))" }.mkString(" + ")

  /** Binary-shortlist cascade: Hamming top-(k·overfetch) over the packed
    * codes, then exact cosine re-rank of the shortlist only — the refine
    * pass touches k·overfetch float vectors per query instead of the whole
    * corpus (same cascade shape as PqIndex's ADC+refine). Output
    * (queryIdCol, idCol, rank, dist) with dist the exact cosine distance. */
  def hammingRefine(
      queries: DataFrame, queryIdCol: String, queryVecCol: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, k: Int, overfetch: Int = 4): DataFrame = {
    val shortlist = hammingTopK(queries, queryIdCol, queryVecCol,
      corpus, idCol, vecCol, dim, k * overfetch)
      .select(col(queryIdCol), col(idCol))
    val keyCol = KnnJoin.keyColumn(corpus, idCol)
    val vecs = corpus.select(keyCol.as(idCol), col(vecCol).as("__cvec"))
    val qv = queries.select(col(queryIdCol), col(queryVecCol).as("__qvec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryIdCol)).orderBy(col("dist"), col(idCol))
    shortlist
      .join(vecs, Seq(idCol))
      .join(broadcast(qv), Seq(queryIdCol))
      .select(col(queryIdCol), col(idCol),
        Cosine.dist(col("__qvec"), col("__cvec")).as("dist"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col(idCol), col("rank"), col("dist"))
  }
}
