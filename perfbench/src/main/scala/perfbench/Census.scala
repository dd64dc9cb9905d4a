package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Per-span Spark census: every job started under job group `g` is charged
  * to `g`, and every task of its stages adds its run time, GC time, shuffle
  * bytes written and bytes spilled to disk. The benchmark sets the group
  * before each call into a layer ([[Tracer]]), so the census splits one op
  * into its layers without touching the program. Totals are read after
  * [[drain]]: the listener bus is asynchronous. */
final class Census extends SparkListener {
  final class Acc {
    var jobs = 0
    var taskMs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val accs = mutable.Map.empty[String, Acc]

  private def acc(g: String): Acc = accs.synchronized(accs.getOrElseUpdate(g, new Acc))

  override def onJobStart(j: SparkListenerJobStart): Unit =
    Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        acc(g).jobs += 1
        j.stageIds.foreach(stageGroup.put(_, g))
      }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(t.stageId)
    val m = t.taskMetrics
    if (g != null && m != null) {
      val a = acc(g)
      a.taskMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
    }
  }

  def get(g: String): Acc = accs.synchronized(accs.getOrElse(g, new Acc))

  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
}

/** One layer call of one op, wall-clocked by the benchmark. */
final case class Span(op: Int, name: String, startNs: Long, endNs: Long) {
  def group: String = s"$op/$name"
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans, and counts taken at the same boundaries, in memory;
  * nothing is written until the run ends. */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val counts = mutable.LinkedHashMap.empty[String, Double]

  def count(op: Int, name: String, v: Double): Unit = counts(s"$op/$name") = v

  def span[T](op: Int, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val s0 = System.nanoTime()
    sc.setJobGroup(s"$op/$name", name)
    try body
    finally {
      sc.clearJobGroup()
      spans += Span(op, name, s0, System.nanoTime())
    }
  }
}
