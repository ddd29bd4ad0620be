package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.ops.Stores

/** The one micro-batch loop behind every streaming store maintainer.
  * A maintainer is a `step(batch, tag)` that folds the batch into a
  * parquet store under the batch's tag ([[Stores.batchTag]]) through
  * [[Stores.appendCommit]], plus an `onBatch(batchId, result)` that
  * consumes what the step returned (a verdict, an emission, a report).
  *
  * Structured Streaming delivers a micro-batch at least once: a batch
  * whose append committed but whose checkpoint did not runs again under
  * the same id after a restart. The id maps to the same tag, the append
  * finds its `_appended_<tag>` marker and writes nothing, so the store
  * holds every batch exactly once — the reference's batch stamp written
  * with the data (db/mod.rs:369-394), at file granularity. A step that
  * also reads the store leaves out what its own tag wrote, so a
  * redelivered batch sees what its first delivery saw.
  *
  * The same shape as [[DeltaPipeline.writer]] over a sink's batch
  * writer: [[batchFn]] is the micro-batch function, [[writer]] hands it
  * to the stream. */
object StoreLoop {

  /** The micro-batch function: `step(batch, tag)`, then
    * `onBatch(batchId, result)`. */
  def batchFn[A](step: (DataFrame, String) => A)
                (onBatch: (Long, A) => Unit): (DataFrame, Long) => Unit =
    (batch, batchId) => onBatch(batchId, step(batch, Stores.batchTag(batchId)))

  /** Start-ready writer running [[batchFn]] on every micro-batch of
    * `rows`; the caller sets the checkpoint and starts it. */
  def writer[A](rows: DataFrame)(step: (DataFrame, String) => A)
               (onBatch: (Long, A) => Unit): DataStreamWriter[Row] =
    rows.writeStream.foreachBatch(batchFn(step)(onBatch))
}
