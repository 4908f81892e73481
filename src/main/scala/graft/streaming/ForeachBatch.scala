package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** The stream operators' one start scaffold: a named, checkpointed query
  * handing each micro-batch and its id to `apply`, which must make a
  * replayed batch id harmless (foreachBatch is at-least-once). */
private[streaming] object ForeachBatch {
  def start(stream: DataFrame, queryName: String, checkpointDir: String)(
      apply: (DataFrame, Long) => Any): StreamingQuery =
    stream.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) => apply(batch, batchId); () }
      .start()
}
