package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming substring dedup with a SELF-MAINTAINING span store — the
  * [[NearDupStream.selfMaintaining]] loop at span granularity (the Lee
  * et al. 2022 profile running continuously):
  *
  *  1. each micro-batch is cleaned by
  *     [[graft.ops.Dedup.spanDedupIncremental]]: its occurrences of any
  *     stored span are cut as corpus-owned, batch-internal repeats
  *     collapse to their rank-1 copy;
  *  2. the batch's spans are folded into the store
  *     ([[graft.ops.Dedup.spanSetStoredAppend]] under the batch's
  *     [[StoreLoop]] tag)
  *     so the NEXT batch's copies of them are corpus-owned;
  *  3. `onBatch(batchId, cleaned)` hands the cleaned batch
  *     (id, n_tokens, n_removed, clean_text) to the caller's sink.
  *
  * Replay safety differs from the MinHash loop: the span store has no
  * provenance column, so a replayed batch cannot be anti-joined out by
  * id. Instead the append RETAINS its delta sidecar (exactly the hashes
  * this batch added), and the cleaning pass reads the store MINUS this
  * batch's own delta (`replayTag`) — first attempt and redelivery
  * compute the identical cut, while the marker file keeps the append
  * single-shot. The cleaned result is forced before the append so its
  * plan never observes the store mid-write. */
object SpanStream {

  def selfMaintaining(docs: DataFrame, path: String, spanLen: Int,
                      idCol: String = "doc_id", textCol: String = "text")
                     (onBatch: (Long, DataFrame) => Unit): DataStreamWriter[Row] = {
    graft.ops.Stores.requireStore(docs.sparkSession, path,
      "seed it with spanSetStored")
    StoreLoop.writer(docs) { (batch, tag) =>
      // stage FIRST: with the delta on disk before the cleaning plan is
      // built, the plan always reads (store − this batch's delta) — the
      // pre-batch view — so it stays correct even when the commit's
      // refreshByPath invalidates the cache and forces a re-execution
      // against the grown store (observed: the recompute otherwise cut
      // every batch doc against its own just-appended spans)
      graft.ops.Dedup.spanStageDelta(batch, path, spanLen, tag, idCol, textCol)
      val cleaned = graft.ops.Dedup.spanDedupIncremental(
        batch, path, spanLen, idCol, textCol,
        replayTag = Some(tag)).persist()
      cleaned.count()
      graft.ops.Dedup.spanCommitAppend(batch.sparkSession, path, tag)
      cleaned
    } { (batchId, cleaned) =>
      onBatch(batchId, cleaned)
      cleaned.unpersist()
      // the cleaner pins its internal token table (the caller-owned
      // clearCache convention of the batch API); a long-running stream
      // must release it per batch or 10⁴ batches stack 10⁴ pinned
      // token tables. The stream owns its session — clearing is safe.
      cleaned.sparkSession.catalog.clearCache()
      ()
    }
  }
}
