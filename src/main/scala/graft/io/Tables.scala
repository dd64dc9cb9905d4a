package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, StructType, TimestampType, TimestampNTZType, DataType}
import graft.schema.Schemas

/** Typed readers for the engine's tables (SURVEY.md §2.1 S1-S4).
  *
  * Parquet is self-describing, so we read as-is and then *validate* against the
  * declared schema instead of forcing a cast — fail-fast on drift, the failure
  * mode the reference actually hit (SURVEY.md §1.1).
  */
object Tables {

  def read(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    Schemas.byName.get(name).foreach(validate(name, df.schema, _))
    df
  }

  /** S1 — skills CSV in the reference's code-ground-truth shape
    * (`load_skill_vectors_pg.py:16-19`; SURVEY.md §1.1 documents the
    * README↔code drift we deliberately ignore). */
  def skillsCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.skills).option("header", "true").csv(path)

  /** S2 — jobs CSV (`skills_for_jobs.py:394-395`, `create_job_embeddings.py:29,36`). */
  def jobsCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.jobs).option("header", "true").csv(path)

  /** S4 — empty-input guard (`skills_for_jobs.py:396-398`). */
  def readNonEmpty(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = read(spark, sfDir, name)
    require(!df.isEmpty, s"input table '$name' in $sfDir is empty")
    df
  }

  def embeddings(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "embeddings")
  def documents(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "documents")

  /** events.parquet carries TIMESTAMP(NANOS), which Spark's parquet reader
    * rejects outright. Read nanos as long (legacy conf) and convert to a
    * microsecond timestamp — sub-microsecond precision is dropped, matching
    * what any TIMESTAMP_MICROS engine sees. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    val df =
      if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else raw
    // NOTE: a TIMESTAMP(MICROS) file without isAdjustedToUTC reads as
    // TIMESTAMP_NTZ under Spark 4's NTZ inference. That faithful type is
    // kept — the oracle engine reads the same naive column, so emitted
    // timestamps must stay naive — and instant-needing consumers cast to
    // LTZ inside their computation (EventStreams.tsMicros).
    Schemas.byName.get("events").foreach(validate("events", df.schema, _))
    df
  }
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "region")

  private def validate(name: String, actual: StructType, expected: StructType): Unit = {
    val a = actual.fields.map(f => f.name -> f.dataType).toMap
    expected.fields.foreach { f =>
      a.get(f.name) match {
        case None => throw new IllegalArgumentException(
          s"table '$name': missing column '${f.name}' (have: ${actual.fieldNames.mkString(",")})")
        case Some(t) if !compatible(t, f.dataType) => throw new IllegalArgumentException(
          s"table '$name': column '${f.name}' is $t, expected ${f.dataType}")
        case _ =>
      }
    }
  }

  /** Timestamp flavors (ns vs ms physical, NTZ vs LTZ) are interchangeable for
    * our purposes; everything else must match exactly. */
  private def compatible(actual: DataType, expected: DataType): Boolean =
    (actual, expected) match {
      case (_: TimestampNTZType, _: TimestampType) => true
      case (_: TimestampType, _: TimestampNTZType) => true
      case (ArrayType(a, _), ArrayType(b, _)) => compatible(a, b)
      case (a, b) => a == b
    }
}
