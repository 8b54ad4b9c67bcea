package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Drives a store function from a Structured Streaming source: every
  * micro-batch is handed to `handle` with its batch id through
  * `foreachBatch`, the way a streaming deployment calls a store. Specs
  * use it to check a store's batch-id contract under a real stream:
  * micro-batch ids, checkpoint restarts and replays.
  */
object StreamDrive {

  def foreachBatch[T](in: Dataset[T], checkpointDir: Option[String] = None,
      trigger: Trigger = Trigger.AvailableNow())(
      handle: (Dataset[T], Long) => Unit): StreamingQuery = {
    val w = in.writeStream.outputMode("append").trigger(trigger)
    checkpointDir.fold(w)(d => w.option("checkpointLocation", d))
      .foreachBatch(handle)
      .start()
  }
}
