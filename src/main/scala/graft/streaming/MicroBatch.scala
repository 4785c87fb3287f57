package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** The one micro-batch adapter of the streamed maintainers: each
  * maintainer's `apply*` is a `(batch, batchId)` function, and this runs
  * it on every micro-batch of a streaming frame. Exactly-once effect =
  * the offsets checkpointed under `checkpointDir` (at-least-once delivery)
  * × the maintainer's idempotent commit (a replayed batchId no-ops).
  * Default trigger; [[StreamingReplication]] keeps its own trigger choice.
  */
object MicroBatch {
  def start(frame: DataFrame, checkpointDir: String)
           (apply: (DataFrame, Long) => Unit): StreamingQuery =
    frame.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(apply)
      .start()
}
