package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Kills [[Bucketed.compactWith]] right after its `rewrite` lands — the
  * crash window between a compaction's data rewrite and its last step (a
  * purge's marker clear, the fence's `done`). Lives in this package
  * because the scaffold is package-private. */
object CompactionKill {

  private final class Killed extends IllegalStateException("killed")

  def afterRewrite(spark: SparkSession, loc: String, read: => DataFrame,
      purgeIdCol: Option[String])(rewrite: DataFrame => Unit): Unit =
    try {
      Bucketed.compactWith(spark, loc, read, purgeIdCol, identity) { rows =>
        rewrite(rows)
        throw new Killed
      }
      sys.error("compactWith returned without running its rewrite")
    } catch { case _: Killed => }

  /** The plain IVF path layout's compaction ([[IvfIndex.compact]]'s
    * rewrite), killed after the rewrite. */
  def ivfAfterRewrite(spark: SparkSession, path: String,
      purgeIdCol: Option[String]): Unit =
    afterRewrite(spark, path, spark.read.parquet(path), purgeIdCol)(
      _.write.mode("overwrite").partitionBy("list_id").parquet(path))
}
