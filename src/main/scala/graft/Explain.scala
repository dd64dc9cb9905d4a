package graft
import org.apache.spark.sql.SparkSession

/** Plan inspector: `runMain graft.Explain <sfDir> <query> [query…]` prints
  * each query's formatted physical plan — the review loop for shuffle
  * count, broadcast choices, pushed filters and codegen coverage. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    // the session Verify, Bench and perfbench run, so the printed plans are
    // the shipped ones
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Tuning(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      println(s"\n===== $name =====")
      SparkEntry.queries.get(name) match {
        case Some(fn) => fn(spark, sfDir).explain("formatted")
        // plan-dump diagnostic: the walk's per-hop localCheckpoint hides
        // the hop interior in every declared query's dump, so this
        // pseudo-query explains ONE uncheckpointed hop (same loop body)
        case None if name == "_walk_hop" =>
          graft.queries.VectorQueries.walkHopExplainFrame(spark, sfDir)
            .explain("formatted")
        case None => println(s"unknown query '$name'")
      }
    }
    spark.stop()
  }
}
