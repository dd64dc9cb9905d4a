package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join — for every left row, the latest right row with
  * `right.ts <= left.ts` within the same key. Spark has no built-in as-of
  * join; the naive formulation (non-equi theta join + per-row argmax)
  * explodes into a nested-loop product.
  *
  * This is the one-shuffle union trick instead: tag both sides, union them,
  * sort each key's timeline once (`ts`, side, id), and carry the last
  * non-null right id forward with `last(..., ignoreNulls)` over the running
  * window. Cost = one shuffle on the key + one sort — the same shape at any
  * scale, no cross product ever materialized.
  *
  * Tie discipline: right rows order before left rows at equal `ts` (the
  * "or equal" in ≤), and equal-ts right rows resolve to the greatest id —
  * deterministic and mirrored in the oracle SQL.
  */
object AsofJoin {

  /** Output: all left columns + `asofIdCol` = matched right id (null when no
    * right row precedes the left row). */
  def latestPriorId(
      left: DataFrame, right: DataFrame, keyCol: String, tsCol: String,
      leftIdCol: String, rightIdCol: String,
      asofIdCol: String = "asof_id"): DataFrame = {
    val l = left.select(col(keyCol), col(tsCol),
      col(leftIdCol).as("__lid"), lit(null).cast("long").as("__rid"), lit(1).as("__side"))
    val r = right.select(col(keyCol), col(tsCol),
      lit(null).cast("long").as("__lid"), col(rightIdCol).cast("long").as("__rid"), lit(0).as("__side"))
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col("__side"), col("__rid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r.unionByName(l)
      .withColumn(asofIdCol, last(col("__rid"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(col(keyCol), col("__lid").as(leftIdCol), col(tsCol), col(asofIdCol))
  }
}
