package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming twin of [[graft.ops.Multimodal.dhashStoreAppend]] — the
  * closed-loop near-dup story for the IMAGE modality (the
  * [[SimHashStream]] shape applied to perceptual hashes): each
  * micro-batch of binary image rows hashes only ITS images, emits
  * exactly the new visually-near-duplicate pairs (within-batch plus
  * batch-vs-earlier-store at the exact pigeonhole bound), and appends
  * its `(id, dhash, tag)` rows — so the union of per-batch emissions
  * over the stream's lifetime equals the one-shot
  * [[graft.ops.Multimodal.imageNearDup]] over everything ingested.
  *
  * Exactly-once: the append no-ops on the store's batch marker
  * (redelivery), and the emission reads only STRICTLY-EARLIER tags
  * (crash-retry racing later batches recomputes the identical pair
  * set). Batch ids map to zero-padded tags
  * ([[graft.ops.Stores.batchTag]]) so lexicographic tag order equals
  * batch order.
  *
  * At 100 TB: each image's bytes are decoded exactly once, in the
  * batch that carries them — the store probe re-reads 17-byte
  * signature rows, never pixels. The emission is handed to `onBatch`
  * persisted and unpersisted right after it returns (the caller-owned-
  * release contract, discharged here). */
object ImageDupStream {

  def selfMaintaining(media: DataFrame, path: String, maxHamming: Int = 3,
                      idCol: String = "media_id", binCol: String = "content")
                     (onBatch: (Long, DataFrame) => Unit)
      : DataStreamWriter[Row] =
    StoreLoop.writer(media) { (batch, tag) =>
      graft.ops.Multimodal.dhashStoreAppend(
        batch, path, tag, maxHamming, idCol, binCol)
    } { (batchId, pairs) =>
      try onBatch(batchId, pairs)
      finally { pairs.unpersist(); () }
    }
}
