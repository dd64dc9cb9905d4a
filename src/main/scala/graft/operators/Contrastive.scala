package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.Metric

/** Training-pair mining for contrastive embedding fine-tuning.
  *
  * A retrieval-model training pipeline needs, for each anchor, the corpus
  * items that are CLOSE in embedding space but carry a DIFFERENT label —
  * the "hard negatives" whose gradients actually move the model (easy
  * random negatives are already far away; see e.g. Xiong et al., ANCE,
  * ICLR 2021). This is the mining face of the engine's k-NN machinery:
  * the same broadcast + map-side distance + bounded-heap plan as
  * KnnJoin.exact, with the label-mismatch predicate applied BEFORE the
  * heap so excluded candidates never occupy heap slots — per anchor the
  * result is exactly the top-k nearest among differently-labeled items.
  *
  * At 100 TB the anchor side is the (small, broadcastable) training batch
  * and the corpus scan is the shard-local pass this plan already is; a
  * deployment that mines from an indexed corpus swaps the candidate
  * generator for the stored ANN probe (IvfIndex/LshIndex) and keeps the
  * same label filter + heap tail.
  *
  * Reference anchor: the reference's filtered searches (metadata predicate
  * composed with top-k, skills_for_jobs.py:416-433) are the static-filter
  * special case; here the predicate is anchor-dependent (label ≠ anchor's),
  * which no static pre-filter can express.
  */
object Contrastive {

  /** Top-k nearest differently-labeled corpus items per anchor.
    * Output: (anchorIdCol, idCol, labelCol, rank, dist) — the negative's
    * label is carried through the join back (k rows per anchor) so the
    * training-pair writer doesn't need another lookup. Self-pairs are
    * excluded by id (an anchor that also lives in the corpus can't be its
    * own negative even on a label mismatch upstream). */
  def hardNegatives(
      anchors: DataFrame, anchorIdCol: String, anchorVecCol: String,
      anchorLabelCol: String,
      corpus: DataFrame, idCol: String, vecCol: String, labelCol: String,
      k: Int, metric: Metric): DataFrame = {
    val a = broadcast(anchors.select(
      col(anchorIdCol), col(anchorVecCol).as("__avec"),
      col(anchorLabelCol).as("__albl")))
    val keyCol = KnnJoin.keyColumn(corpus, idCol)
    val c = corpus.select(keyCol, col(vecCol).as("__cvec"),
      col(labelCol).as("__clbl"))
    val cands = a.join(c,
        col("__clbl") =!= col("__albl") && col("__cid") =!= col(anchorIdCol))
      .select(col(anchorIdCol),
        metric.dist(col("__avec"), col("__cvec")).as("dist"),
        col("__cid"))
    val topk = KnnJoin.topkOfCandidates(cands, anchorIdCol, idCol, k)
    topk.join(corpus.select(keyCol.as(idCol), col(labelCol)), Seq(idCol))
      .select(col(anchorIdCol), col(idCol), col(labelCol), col("rank"),
        col("dist"))
  }
}
