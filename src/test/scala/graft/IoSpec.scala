package graft

import java.nio.file.{Files, Paths}
import graft.io.{NpySource, Tables}

class IoSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir = Files.createTempDirectory("iospec").toString

  test("npy round-trip: write f4 matrix, read back identical, vec_id positional") {
    val dir = tmpDir
    val data = Seq(
      (0L, Array(1.5f, -2.25f, 3.0f)),
      (1L, Array(0.0f, 4.5f, -1.0f)),
      (2L, Array(7.25f, 8.0f, 9.5f)))
    NpySource.writeFloatMatrixLocal(
      data.toDF("vec_id", "embedding"), "vec_id", "embedding", s"$dir/m.npy")
    val back = NpySource.readFloatMatrix(spark, s"$dir/m.npy")
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])]
      .collect().sortBy(_._1)
    assert(back.length == 3)
    data.zip(back).foreach { case ((id, v), (bid, bv)) =>
      assert(id == bid && v.toSeq == bv)
    }
  }

  test("sharded npy export: per-partition shards reassemble in id order") {
    val dir = tmpDir
    val data = (0L until 20L).map(i => (i, Array(i.toFloat, i * 2.0f)))
    val parts = NpySource.writeFloatMatrixSharded(
      data.toDF("vec_id", "embedding"), "vec_id", "embedding", dir, shards = 3)
    assert(parts.nonEmpty && parts.map(_._2).sum == 20L)
    // shards tile the id range in order, without overlap
    parts.sliding(2).foreach {
      case Seq((_, _, _, hi), (_, _, lo, _)) => assert(hi < lo)
      case _ =>
    }
    // concatenating shards in shard order reproduces the full sorted matrix
    val back = parts.flatMap { case (s, _, _, _) =>
      NpySource.readFloatMatrix(spark, f"$dir/shard_$s%05d.npy")
        .select($"vec_id", $"embedding").as[(Long, Seq[Float])]
        .collect().sortBy(_._1).map(_._2)
    }
    assert(back == data.map(_._2.toSeq))
    val manifest = new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, "manifest.json")), "UTF-8")
    parts.foreach { case (s, n, lo, hi) =>
      assert(manifest.contains(f""""file": "shard_$s%05d.npy", "rows": $n, "min_id": $lo, "max_id": $hi"""))
    }
  }

  test("npy reader accepts f8 and widens through float narrowing") {
    // hand-build a 2x2 <f8 npy
    val dict = "{'descr': '<f8', 'fortran_order': False, 'shape': (2, 2), }"
    val pad = 64 - ((10 + dict.length + 1) % 64)
    val header = dict + " " * pad + "\n"
    val buf = java.nio.ByteBuffer.allocate(10 + header.length + 4 * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put(0x93.toByte).put("NUMPY".getBytes("ASCII")).put(1.toByte).put(0.toByte)
    buf.putShort(header.length.toShort).put(header.getBytes("ASCII"))
    Seq(1.5, 2.5, -3.5, 4.0).foreach(buf.putDouble)
    val dir = tmpDir
    Files.write(Paths.get(s"$dir/d.npy"), buf.array())
    val got = NpySource.readFloatMatrix(spark, s"$dir/d.npy")
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().sortBy(_._1)
    assert(got(0)._2 == Seq(1.5f, 2.5f) && got(1)._2 == Seq(-3.5f, 4.0f))
  }

  test("npy reader rejects fortran order and bad magic") {
    val dict = "{'descr': '<f4', 'fortran_order': True, 'shape': (1, 1), }\n"
    val bytes = Array[Byte](0x93.toByte) ++ "NUMPY".getBytes ++
      Array[Byte](1, 0) ++
      Array[Byte]((dict.length & 0xff).toByte, ((dict.length >> 8) & 0xff).toByte) ++
      dict.getBytes ++ Array.fill[Byte](4)(0)
    intercept[IllegalArgumentException](NpySource.parseHeader("t", bytes))
    intercept[IllegalArgumentException](NpySource.parseHeader("t", "junk12345678".getBytes))
  }

  test("reference-shape CSV readers parse skills and jobs with declared schemas") {
    val dir = tmpDir
    Files.writeString(Paths.get(s"$dir/skills.csv"),
      "abbreviation,title,level,level_description\nSQL,Query language,3,Writes joins\nSPK,Spark,4,Builds pipelines\n")
    Files.writeString(Paths.get(s"$dir/jobs.csv"),
      "job_code,gpt_job_description\nJ1,Builds data platforms\n")
    val skills = Tables.skillsCsv(spark, s"$dir/skills.csv")
    assert(skills.schema == graft.schema.Schemas.skills)
    val r = skills.orderBy("abbreviation").collect()
    assert(r(0).getString(0) == "SPK" && r(0).getInt(2) == 4)
    val jobs = Tables.jobsCsv(spark, s"$dir/jobs.csv")
    assert(jobs.count() == 1 && jobs.head().getString(0) == "J1")
  }

  test("empty-input guard fires (S4)") {
    val dir = tmpDir
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        graft.schema.Schemas.region)
      .write.mode("overwrite").parquet(s"$dir/region.parquet")
    intercept[IllegalArgumentException](Tables.readNonEmpty(spark, dir, "region"))
  }
}
