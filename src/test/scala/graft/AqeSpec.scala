package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

class AqeSpec extends SparkSpec {
  /** Run `body` with temporary SQL confs, restoring previous values —
    * the shared-session discipline (no stop(), no leaked settings). */
  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val prev = pairs.map { case (k, _) =>
      k -> scala.util.Try(spark.conf.get(k)).toOption }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // AQE finalizes the plan only after execution
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
  }

  test("AQE splits a skewed sort-merge join partition (skew=true)") {
    // one hot key carrying ~all rows; thresholds lowered so the unit-test
    // volume trips the same machinery a 100 TB skewed key would
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "20KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB") {
      val left = spark.range(0L, 200000L)
        .select(when(col("id") % 10L =!= 0L, lit(0L)).otherwise(col("id"))
          .as("k"), col("id").as("payload"))
      val right = spark.range(0L, 1000L).select(col("id").as("k"))
      val plan = finalPlan(left.join(right, "k")
        .agg(count(lit(1)).as("n")))
      // SortMergeJoinExec prints "(skew=true)" when AQE rewrote it; the
      // AQEShuffleRead under it prints the skewed-split partition specs
      assert(plan.contains("skew=true") || plan.contains("skewed"),
        s"AQE did not split the hot partition:\n$plan")
    }
  }

  test("AQE coalesces small shuffle partitions below the advisory size") {
    withConf(
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1MB",
      "spark.sql.shuffle.partitions" -> "64") {
      val plan = finalPlan(spark.range(0L, 1000L)
        .groupBy(col("id") % 10L).agg(count(lit(1))))
      assert(plan.contains("coalesced"), s"no coalesced AQEShuffleRead in:\n$plan")
    }
  }
}
