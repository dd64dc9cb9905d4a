package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery

/** The micro-batch bridge of every streaming face whose per-batch work
  * needs batch-only operators (top-k windows, bucketed-table joins and
  * appends, greedy rounds): `foreachBatch` hands each micro-batch of
  * `stream` to `f` with its batch id, in append mode. */
object MicroBatch {
  def start(stream: DataFrame)(f: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) => f(batch, batchId) }
      .outputMode("append")
      .start()
}
