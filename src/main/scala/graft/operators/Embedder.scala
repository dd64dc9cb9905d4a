package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.functions.VectorFunctions.l2Normalize

/** F10 — deterministic local embedder (SURVEY.md §2.8 F10, §3.1).
  *
  * The reference embeds text with one HTTP call per row to OpenAI/Gemini
  * (`create_skill_embeddings.py:11-20,37-43`) — its scalability cliff. In a
  * zero-egress batch engine the same interface is served by a hashing-TF
  * embedder: tokens → portable 32-bit hash → bucket counts at the requested
  * dimension (768/1536 mirror the reference's provider dims,
  * `load_skill_vectors_pg.py:10-13`) → L2-normalized dense vector.
  *
  * Physical shape: explode → two-level hash aggregation (partial map-side
  * combine) → sparse-to-dense transform. Both shuffles key on the document
  * id, so the plan scales linearly with corpus size and never materializes
  * a dim-wide row until the final projection. No UDFs — every step is a
  * codegen'd Catalyst expression, and the md5 bucket hash reproduces exactly
  * in the DuckDB oracle.
  */
object Embedder {

  /** Tokenize, hash-bucket at `dim`, and count per (doc, bucket) — the
    * shared front half of both embedders: (idCol, __b int, __cnt double). */
  private def bucketCounts(df: DataFrame, idCol: String, textCol: String,
      dim: Int): DataFrame =
    df.select(col(idCol),
        explode(TextFunctions.tokens(TextFunctions.newlineStrip(col(textCol)))).as("__t"))
      .select(col(idCol), pmod(TextFunctions.tokenHash(col("__t")), lit(dim.toLong)).cast("int").as("__b"))
      .groupBy(col(idCol), col("__b"))
      .agg(count(lit(1)).cast("double").as("__cnt"))

  /** Sparse (idCol, __b, weight) rows → dense unit vector per doc — the
    * shared back half. The dense vector materializes as a column before
    * normalizing: l2Normalize references its argument three times, and each
    * reference of a non-attribute expression re-runs the whole
    * sparse→dense transform. */
  private def densify(weighted: DataFrame, idCol: String, weightCol: String,
      dim: Int, outCol: String): DataFrame =
    weighted.groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("__b"), col(weightCol)))).as("__m"))
      .select(col(idCol),
        transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(element_at(col("__m"), i), lit(0.0d))).as("__v"))
      .select(col(idCol), l2Normalize(col("__v")).as(outCol))

  /** Embed `textCol` into a dense `dim`-dimensional unit vector per row.
    * Rows whose text has no tokens are dropped (nothing to embed).
    * Output: (idCol, outCol array<double>). */
  def hashTfEmbed(df: DataFrame, idCol: String, textCol: String, dim: Int,
      outCol: String = "embedding"): DataFrame = {
    require(dim > 0, s"embedding dim must be positive, got $dim")
    densify(bucketCounts(df, idCol, textCol, dim), idCol, "__cnt", dim, outCol)
  }

  /** TF-IDF embedder: [[hashTfEmbed]]'s bucket counts weighted by smoothed
    * inverse document frequency before normalization —
    * idf_b = ln((N+1)/(df_b+1)) + 1 (the standard smoothed form, as in
    * scikit-learn's TfidfTransformer), df_b = number of docs hashing into
    * bucket b, N = number of embeddable docs. Corpus statistics stay
    * columnar: df_b is one keyed aggregation, N a 1-row aggregate, and the
    * ≤ dim-row idf table joins back as a broadcast — no second corpus
    * shuffle beyond hashTfEmbed's. idf rounds at 8 decimals before
    * weighting so ln() libm drift can't split engines. */
  def tfidfEmbed(df: DataFrame, idCol: String, textCol: String, dim: Int,
      outCol: String = "embedding"): DataFrame = {
    require(dim > 0, s"embedding dim must be positive, got $dim")
    val buckets = bucketCounts(df, idCol, textCol, dim)
    val dfb = buckets.groupBy(col("__b")).agg(count(lit(1)).as("__dfb"))
    val nDocs = buckets.agg(count_distinct(col(idCol)).as("__n"))
    val idf = dfb.crossJoin(broadcast(nDocs))
      .select(col("__b"),
        round(log((col("__n") + 1L).cast("double") / (col("__dfb") + 1L)) + 1.0d, 8)
          .as("__idf"))
    val weighted = buckets.join(broadcast(idf), "__b")
      .select(col(idCol), col("__b"), (col("__cnt") * col("__idf")).as("__w"))
    densify(weighted, idCol, "__w", dim, outCol)
  }
}
