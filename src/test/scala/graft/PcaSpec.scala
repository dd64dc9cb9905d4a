package graft

import graft.operators.Pca

class PcaSpec extends SparkSpec {
  import spark.implicits._

  test("secondMoment emits the exact upper-triangle e9 census") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 2.0f)),
      (2L, Array(0.5f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val sm = Pca.secondMoment(emb, "embedding")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(3))).toMap
    // mean of per-row e9 products, round-half-up
    assert(sm((1L, 1L)) == math.round((1e9 + 0.25e9) / 2.0)) // (1², 0.5²)
    assert(sm((1L, 3L)) == 1e9.toLong)                        // (2, 0) mean 1
    assert(sm((2L, 2L)) == 0.5e9.toLong)                      // (0, 1) mean .5
    assert(sm.size == 6) // 3·4/2 upper-triangle cells
  }

  test("topAxisE6 finds the dominant axis, unit-norm in e6 fixed point") {
    // strongly diagonal matrix: dominant eigenvector ≈ e_2
    val m2 = Seq(
      (1L, 1L, 2L, 100000000L), (2L, 2L, 2L, 900000000L),
      (3L, 3L, 2L, 50000000L), (1L, 2L, 2L, 10000000L),
      (1L, 3L, 2L, 0L), (2L, 3L, 2L, 5000000L))
      .toDF("dim_i", "dim_j", "n", "m2_e9")
    val v = Pca.topAxisE6(m2)
    assert(v.length == 3)
    assert(math.abs(v(1)) > math.abs(v(0)) && math.abs(v(1)) > math.abs(v(2)))
    val n2 = v.map(x => x.toDouble * x).sum
    assert(math.abs(math.sqrt(n2) - 1e6) < 5, s"axis norm ${math.sqrt(n2)}")
  }

  test("project is the exact integer dot with the e6 axis") {
    val emb = Seq((7L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val p = Pca.project(emb, "vec_id", "embedding", Array(500000L, -250000L))
      .collect().head
    assert(p.getLong(0) == 7L)
    // e6(1.0)=1000000, e6(2.0)=2000000 → 1e6·5e5 + 2e6·(−25e4)
    assert(p.getLong(1) == 1000000L * 500000L - 2000000L * 250000L)
  }
}
