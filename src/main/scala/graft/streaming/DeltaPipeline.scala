package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.sink.DeltaBatchSink

/** The incremental profile's runtime wiring — the analog of the
  * reference's ingestion driver (runner.rs:151-358) on Structured
  * Streaming's micro-batch engine:
  *
  *  - replay/catch-up/live phases → checkpoint recovery + backlog
  *    draining + trigger cadence (all engine-native);
  *  - 5 s live flush (runner.rs:331) → `Trigger.ProcessingTime("5 seconds")`;
  *  - 1000-event txn batching (runner.rs:157) → `maxFilesPerTrigger` /
  *    `maxOffsetsPerTrigger` on the source;
  *  - `sync_channel(1)` backpressure (runner.rs:103-105) → micro-batch
  *    serialization (one batch in flight, inherent);
  *  - exactly-once offsets+data transaction → [[graft.sink.JdbcDeltaSink]]
  *    inside `foreachBatch` with batch-id idempotence.
  *
  * Spark's exactly-once WAL (offsets and commits logs) and the state-store
  * files are written each batch through the session's checkpoint file
  * manager, [[LocalCheckpointFileManager]] on `file:` checkpoints.
  */
object DeltaPipeline {

  val DefaultTrigger: Trigger = Trigger.ProcessingTime("5 seconds")

  /** Wire a streaming delta DataFrame (carrying a `mult` column, or
    * plain rows treated as inserts) into a transactional sink: a raw-row
    * [[graft.sink.JdbcDeltaSink]], an aggregate view
    * ([[graft.sink.AggDeltaSink]], keys → (cnt, sums…), O(churned groups)
    * per batch), or a union whose `_table` tag feeds several members in
    * one transaction per batch ([[graft.sink.UnionDeltaSink]], reference
    * K4). */
  def writer(deltas: DataFrame, sink: DeltaBatchSink,
             checkpoint: String,
             trigger: Trigger = DefaultTrigger): DataStreamWriter[Row] = {
    sink.bootstrap()
    deltas.writeStream
      .outputMode("update")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch(sink.foreachBatchWriter())
  }

  def start(deltas: DataFrame, sink: DeltaBatchSink, checkpoint: String,
            trigger: Trigger = DefaultTrigger): StreamingQuery =
    writer(deltas, sink, checkpoint, trigger).start()
}
