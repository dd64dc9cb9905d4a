package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.asDouble
import graft.io.Tables

/** Shared fixture convention for the vector-engine queries (FIXTURES.md §B):
  * `embeddings.parquet` plays both sides of the reference's skills/jobs pair —
  * queries = `vec_id < NQ`, corpus = `vec_id >= NQ`; `vec_id` stands in for
  * `abbreviation`, `label` for `level`. The DuckDB CTE strings mirror the
  * DataFrame split exactly so every oracle starts from identical inputs.
  */
private[queries] object Fixtures {
  val K = 10
  val NQ = 20 // fixed query-set size at every scale factor

  def split(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, dir)
    val q = emb.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("job_id"), asDouble(col("embedding")).as("qvec"))
    val c = emb.filter(col("vec_id") >= NQ)
      .select(col("vec_id").as("skill_id"), asDouble(col("embedding")).as("svec"),
        col("label").cast("long").as("label"))
    (q, c)
  }

  /** The exact top-K ranking over the fixture split — THE oracle frame of
    * every recall/eval gate (~26 call sites pay it otherwise), memo-shared
    * per (session, metric, dir). Keyed memo, not plan equality: the
    * bounded-heap UDAF embeds a fresh instance per `udaf(...)` call, which
    * defeats `sameResult` even though the computation is identical. */
  def exactTopK(s: SparkSession, dir: String,
      metric: graft.functions.VectorFunctions.Metric =
        graft.functions.VectorFunctions.Cosine): DataFrame = {
    val (q, c) = split(s, dir)
    graft.Caches.memo(s, s"exact:$metric:$dir")(
      graft.operators.KnnJoin.exact(
        q, "job_id", "qvec", c, "skill_id", "svec", K, metric))
  }

  /** Stamp `ids` as tombstones at `layoutPath` once per (session, key) and
    * return the stored set. Resilient to other rows' maintenance of the
    * same layout: a purge or a cross-session re-ensure (its build face)
    * legitimately clears the markers in the layout's sidecar — the
    * deterministic fixture set is re-stamped instead of serving an
    * unfiltered search as "deleted". The layout's own ensure MUST have
    * run first (its build face clears the layout's markers — the correct
    * lifetime). */
  def tombsAt(s: SparkSession, key: String, layoutPath: String,
      idCol: String)(ids: => DataFrame): DataFrame = {
    def stamp(): String = {
      graft.operators.Tombstones.add(ids, idCol, layoutPath)
      layoutPath
    }
    graft.Layouts.once(s, key)(stamp())
    graft.operators.Tombstones.read(s, layoutPath).getOrElse {
      stamp()
      graft.operators.Tombstones.read(s, layoutPath).getOrElse(
        throw new IllegalStateException(
          s"tombsAt: no tombstone store at $layoutPath after add"))
    }
  }

  val qCte: String =
    s"q AS (SELECT vec_id AS job_id, embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id < $NQ)"
  val cCte: String =
    s"c AS (SELECT vec_id AS skill_id, embedding::DOUBLE[] AS svec, CAST(label AS BIGINT) AS label FROM embeddings WHERE vec_id >= $NQ)"
}
