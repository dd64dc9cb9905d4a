package graft.tools

import java.util.Locale
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Measurement harness for the optimization rounds (guide §1): runs the
  * named queries exactly the way [[graft.Bench]] does (same master/conf
  * envs, same `.count()` action) under a listener that aggregates, per
  * query: wall seconds, Spark job count, stage count, task count, summed
  * task time, summed shuffle read/write bytes, and the generated classes
  * Janino compiled during the run with their compile time (`codegen_compiles`
  * from `CodegenMetrics`, `codegen_ms` from `CodeGenerator.compileTime`;
  * a steady-state rerun should read 0, and a recompile storm from an
  * undersized codegen cache shows here). The job/stage/task
  * census is what separates "slow because compute" from "slow because
  * 40 sequential tiny jobs × scheduling latency" — the first thing the
  * optimization guide asks for and the thing `explain` can't show.
  *
  * `runMain graft.tools.Profile <query> [query…]` — env overrides:
  * SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32),
  * SPARK_GRAFT_REPEAT (default 1: re-run each query to see the
  * warm-memo/cold split the bench's producer ordering creates).
  */
object Profile {
  private def fmt(v: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(v))

  private final class Agg extends SparkListener {
    var jobs = 0
    var stages = 0
    var tasks = 0
    var taskMs = 0L
    var shufReadB = 0L
    var shufWriteB = 0L
    var inputB = 0L
    var gcMs = 0L
    var deserMs = 0L
    var resSerMs = 0L
    // (stageId, name, wallMs, taskMs, nTasks)
    val stageRows = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long, Long, Int)]
    private val stageTaskMs = scala.collection.mutable.Map.empty[Int, Long]
    private val stageTasks = scala.collection.mutable.Map.empty[Int, Int]
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    override def onJobEnd(j: SparkListenerJobEnd): Unit = ()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages += 1
      val si = s.stageInfo
      val wall = (for (a <- si.submissionTime; b <- si.completionTime) yield b - a).getOrElse(-1L)
      stageRows += ((si.stageId, si.name.take(60), wall,
        stageTaskMs.getOrElse(si.stageId, 0L), stageTasks.getOrElse(si.stageId, 0)))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks += 1
      val m = t.taskMetrics
      if (m != null) {
        taskMs += m.executorRunTime
        gcMs += m.jvmGCTime
        deserMs += m.executorDeserializeTime
        resSerMs += m.resultSerializationTime
        shufReadB += m.shuffleReadMetrics.totalBytesRead
        shufWriteB += m.shuffleWriteMetrics.bytesWritten
        inputB += m.inputMetrics.bytesRead
        stageTaskMs(t.stageId) = stageTaskMs.getOrElse(t.stageId, 0L) + m.executorRunTime
        stageTasks(t.stageId) = stageTasks.getOrElse(t.stageId, 0) + 1
      }
    }
    def reset(): Unit = { jobs = 0; stages = 0; tasks = 0; taskMs = 0
      gcMs = 0; deserMs = 0; resSerMs = 0
      shufReadB = 0; shufWriteB = 0; inputB = 0
      stageRows.clear(); stageTaskMs.clear(); stageTasks.clear() }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile <query> [query…]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "1").toInt
    val b0 = graft.Tuning(SparkSession.builder()
      .master(s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // SPARK_GRAFT_CONF="k=v;k=v" — hypothesis-testing overrides
    val b = sys.env.get("SPARK_GRAFT_CONF").map(_.split(";").toSeq).getOrElse(Nil)
      .filter(_.contains("="))
      .foldLeft(b0) { (bb, kv) =>
        val Array(k, v) = kv.split("=", 2); bb.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => }
    val agg = new Agg
    spark.sparkContext.addSparkListener(agg)
    val dumpStages = sys.env.get("SPARK_GRAFT_STAGES").exists(_.toInt > 0)
    val nStages = sys.env.get("SPARK_GRAFT_STAGES").map(_.toInt).getOrElse(0)
    println("query,run,sec,jobs,stages,tasks,task_sec,gc_sec,deser_sec,shuf_read_mb,shuf_write_mb,input_mb,codegen_compiles,codegen_ms")
    args.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => println(s"$name,?,unknown query")
        case Some(fn) =>
          (1 to repeat).foreach { i =>
            agg.reset()
            val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
            val compileNs0 = CodeGenerator.compileTime
            val t0 = System.nanoTime()
            try fn(spark, sfDir).count() catch {
              case e: Throwable => println(s"$name FAILED: ${e.getMessage.take(200)}")
            }
            val dt = (System.nanoTime() - t0) / 1e9
            // listener events are async; give the bus a moment to drain
            Thread.sleep(400)
            println(Seq(name, i, fmt(dt), agg.jobs, agg.stages, agg.tasks,
              fmt(agg.taskMs / 1e3), fmt(agg.gcMs / 1e3), fmt(agg.deserMs / 1e3),
              fmt(agg.shufReadB / 1e6),
              fmt(agg.shufWriteB / 1e6), fmt(agg.inputB / 1e6),
              CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0,
              fmt((CodeGenerator.compileTime - compileNs0) / 1e6)).mkString(","))
            if (dumpStages) {
              agg.stageRows.sortBy(-_._4).take(nStages).foreach {
                case (id, nm, wall, tms, nt) =>
                  println(f"  STAGE $id%5d wall=${wall / 1e3}%7.2f task=${tms / 1e3}%7.2f n=$nt%3d  $nm")
              }
            }
          }
      }
      graft.Caches.sweepCheckpoints(spark.sparkContext)
    }
    spark.stop()
  }
}
