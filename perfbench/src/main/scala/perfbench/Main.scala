package perfbench

import java.io.File
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in its own JVM: start a session the way a user would
  * (`local[cores]`, shuffle partitions = cores, [[graft.Tuning]]), set the
  * workload up, run ops back to back for `seconds` (a closed loop with one
  * client), then leave every op's output on disk for the checks in
  * `checks.py` and write the raw records as JSON. Metrics are computed by
  * `run.py` from those records.
  *
  * Usage: Main <workload> <dataDir> <workDir> <seconds> <trace 0|1> <cores> <out.json>
  */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    require(args.length == 7, "usage: Main <workload> <dataDir> <workDir> " +
      "<seconds> <trace 0|1> <cores> <out.json>")
    val Array(name, data, work, seconds, trace, cores, out) = args
    val params = json.readValue(new File(s"$data/params.json"), classOf[Map[String, Any]])
    val record = mutable.LinkedHashMap.empty[String, Any]

    val t0 = System.nanoTime()
    val spark = graft.Tuning(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).collect()
    record("session_s") = (System.nanoTime() - t0) / 1e9

    val census = new Census
    spark.sparkContext.addSparkListener(census)
    val tracer = new Tracer(spark)
    val w = Workload(name, spark, new Params(params), data, work, tracer, trace == "1")
    try {
      record("setup") = w.setup()
      record("after_setup") = w.afterOp()
      val w0 = System.nanoTime()
      val ops = runWindow(w, seconds.toDouble, trace == "1", work)
      record("ops") = ops
      record("window_s") = (System.nanoTime() - w0) / 1e9
      if (trace == "1") {
        // untraced and traced op on one held-out batch: the wall difference
        // is the tracing overhead, and equal outputs prove the traced
        // composition still matches the Pipeline call it splits up
        val held = w.heldOutBatch
        val u = timedOp(w, ops.size, held, s"$work/held_untraced", traced = false)
        val t = timedOp(w, ops.size + 1, held, s"$work/held_traced", traced = true)
        record("held_out") = Map("untraced" -> u, "traced" -> t, "outputs_equal" ->
          scala.util.Try(w.sameOutputs(s"$work/held_untraced", s"$work/held_traced")).getOrElse(false))
        census.drain(spark)
        record("counts") = tracer.counts.toMap
        record("spans") = tracer.spans.toSeq.map { s =>
          val a = census.get(s.group)
          Map("op" -> s.op, "name" -> s.name, "s" -> s.seconds,
            "task_s" -> a.taskMs / 1e3, "gc_s" -> a.gcMs / 1e3, "jobs" -> a.jobs,
            "shuffle_mb" -> a.shuffleBytes / 1e6, "spill_mb" -> a.spillBytes / 1e6)
        }
      }
    } finally {
      json.writeValue(new File(out), record)
      spark.stop()
    }
  }

  /** Ops back to back until `seconds` have passed, each on its own batch;
    * running out of batches first leaves the window short, which `run.py`
    * reports as a failed run. */
  def runWindow(w: Workload, seconds: Double, traced: Boolean,
      work: String): Seq[Map[String, Any]] = {
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val start = System.nanoTime()
    val batches = w.measuredBatches.iterator
    while ((System.nanoTime() - start) / 1e9 < seconds && batches.hasNext) {
      val b = batches.next()
      ops += timedOp(w, ops.size, b, s"$work/op$b", traced)
    }
    ops.toSeq
  }

  /** One op, timed from outside. An op that throws is recorded as failed
    * with its error; its time is never a latency sample. */
  def timedOp(w: Workload, i: Int, batch: Int, dir: String,
      traced: Boolean): Map[String, Any] = {
    val t0 = System.nanoTime()
    val base = Map("i" -> i, "batch" -> batch, "dir" -> dir)
    try {
      val extra = if (traced) w.tracedOp(i, batch, dir) else w.op(i, batch, dir)
      base ++ extra ++ Map("ok" -> true, "wall_s" -> (System.nanoTime() - t0) / 1e9) ++
        w.afterOp()
    } catch {
      case e: Throwable =>
        base ++ Map("ok" -> false, "wall_s" -> (System.nanoTime() - t0) / 1e9,
          "error" -> s"${e.getClass.getName}: ${e.getMessage}".take(500))
    }
  }
}

/** Typed view of the generator's `params.json`. */
final class Params(m: Map[String, Any]) {
  def int(k: String): Int = m(k).asInstanceOf[Number].intValue
}
