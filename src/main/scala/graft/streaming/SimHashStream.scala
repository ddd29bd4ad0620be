package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming twin of [[graft.ops.Dedup.simhashStoreAppend]] — the
  * closed-loop near-dup story the MinHash/winnow/span families already
  * have ([[NearDupStream.selfMaintaining]] /
  * [[FingerprintStream.selfMaintaining]] precedent), for the SimHash /
  * edit-distance family: each micro-batch signs only ITS documents,
  * emits exactly the new near-pairs (within-batch plus
  * batch-vs-earlier-store at the exact pigeonhole bound), and appends
  * its `(id, sh, tag)` signature rows — so the union of per-batch
  * emissions over the stream's lifetime equals the one-shot
  * [[graft.ops.Dedup.simhashNearDup]] over everything ingested.
  *
  * Exactly-once story, split across two guards the batch op already
  * carries:
  *  - the append no-ops on the store's `_appended_<tag>` marker, so a
  *    replayed batch (at-least-once delivery) never double-appends;
  *  - the emission reads only STRICTLY-EARLIER tags, so a replay —
  *    even one racing after later batches landed — recomputes the
  *    identical pair set instead of pairing against the future.
  *
  * The batch id maps to a ZERO-PADDED tag ([[graft.ops.Stores.batchTag]])
  * because the strictly-earlier cut compares tags lexicographically.
  *
  * The emission DataFrame is handed to `onBatch` persisted (the batch
  * op's count barrier materialized it) and is unpersisted right after
  * `onBatch` returns — the caller-owned-release contract, discharged
  * here so a long-running stream never accrues cached emissions.
  *
  * At 100 TB: per-batch cost is batch×(batch+store-probe) — the
  * corpus side is a 17-byte/doc parquet read bucket-joined on the
  * batch's own chunk keys, never a corpus re-pair. */
object SimHashStream {

  def selfMaintaining(docs: DataFrame, path: String, maxHamming: Int = 3,
                      idCol: String = "doc_id", textCol: String = "text")
                     (onBatch: (Long, DataFrame) => Unit)
      : DataStreamWriter[Row] =
    StoreLoop.writer(docs) { (batch, tag) =>
      graft.ops.Dedup.simhashStoreAppend(
        batch, path, tag, maxHamming, idCol, textCol)
    } { (batchId, pairs) =>
      try onBatch(batchId, pairs)
      finally { pairs.unpersist(); () }
    }
}
