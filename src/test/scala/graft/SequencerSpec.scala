package graft

import graft.operators.Sequencer

class SequencerSpec extends SparkSpec {
  import spark.implicits._

  test("chunkWindows: stride-overlapped windows with short tails, none for empty docs") {
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),
      (2L, "a b"),
      (3L, "")).toDF("doc_id", "text")
    val r = Sequencer.chunkWindows(docs, "doc_id", "text", window = 4, stride = 3)
      .select($"doc_id", $"chunk_idx", $"n_chunk_tokens", $"chunk_hash")
      .as[(Long, Long, Long, String)].collect()
    val d1 = r.filter(_._1 == 1L).sortBy(_._2)
    // starts 1,4,7,10 → lengths 4,4,4,1
    assert(d1.map(c => (c._2, c._3)).toSeq == Seq((0L, 4L), (1L, 4L), (2L, 4L), (3L, 1L)))
    val md5of = (s: String) => {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    assert(d1(1)._4 == md5of("t4 t5 t6 t7")) // content, not just counts
    assert(r.count(_._1 == 2L) == 1 && r.filter(_._1 == 2L).head._3 == 2L)
    assert(!r.exists(_._1 == 3L)) // token-less doc → no chunks
  }

  test("packTokenShards: per-group streaming first-fit by id order") {
    // one group (groups=1): counts 4,5,3,10,2 with budget 10 →
    // before = 0,4,9,12,22 → shards 0,0,0,1,2
    val df = Seq((0L, 4L), (1L, 5L), (2L, 3L), (3L, 10L), (4L, 2L))
      .toDF("doc_id", "n_tokens")
    val one = Sequencer.packTokenShards(df, "doc_id", "n_tokens", 1, 10L)
      .select($"doc_id", $"shard_idx").as[(Long, Long)].collect().toMap
    assert(one == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 2L))
    // two groups: evens and odds pack independently
    val two = Sequencer.packTokenShards(df, "doc_id", "n_tokens", 2, 5L)
      .select($"doc_id", $"grp", $"shard_idx").as[(Long, Long, Long)].collect()
    val evens = two.filter(_._2 == 0L).sortBy(_._1).map(_._3).toSeq
    // evens: counts 4,3,2 → before 0,4,7 → shards 0,0,1
    assert(evens == Seq(0L, 0L, 1L))
    val odds = two.filter(_._2 == 1L).sortBy(_._1).map(_._3).toSeq
    // odds: counts 5,10 → before 0,5 → shards 0,1
    assert(odds == Seq(0L, 1L))
  }
}
