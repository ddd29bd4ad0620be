package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming CDF-drift monitor: each micro-batch is GRADED against the
  * distribution of everything that arrived before it
  * ([[graft.ops.Stats.ksDriftFromStoreBefore]]), then folded into the
  * additive histogram store ([[graft.ops.Quantiles.storeAppend]]) —
  * the live "is today's data shaped like the corpus so far" gate a
  * 100 TB ingest runs per arriving shard, complementing the
  * [[graft.ops.Decay.storeAppend]] store + CUSUM's count-level alarm
  * with a shape-level one.
  *
  * Replay stability is the design center: the verdict reads the store
  * STRICTLY BEFORE this batch's tag, so a crash-and-replay — where the
  * append already committed but the checkpoint didn't — re-grades
  * against exactly the reference the first evaluation saw instead of
  * quietly grading the batch against itself. Verdict and fold are each
  * idempotent, so the pair is exactly-once in effect without a
  * transaction spanning them.
  *
  * Per-batch work: one histogram aggregation over the batch plus one
  * model-sized CDF join against the store; nothing row-level crosses
  * batches. The first batch (empty reference) reports n_ref = 0 and
  * never trips.
  */
object KsDriftStream {

  /** @param onVerdict called per batch with (batchId, verdict row) —
    *                  None whenever no reference data exists strictly
    *                  before the batch (batch 0 on a first run AND on
    *                  a crash-replay where batch 0's own append already
    *                  committed: the verdict contract is bit-identical
    *                  across replays) */
  def selfMaintaining(rows: DataFrame, path: String, valueExpr: String,
                      bucketWidth: Long, thrNum: Long, thrDen: Long)
                     (onVerdict: (Long, Option[Row]) => Unit)
                     : DataStreamWriter[Row] =
    StoreLoop.writer(rows)(
      step(path, valueExpr, bucketWidth, thrNum, thrDen))(onVerdict)

  /** One batch: the verdict against the store strictly before `tag`,
    * then the fold under `tag`. */
  def step(path: String, valueExpr: String, bucketWidth: Long,
           thrNum: Long, thrDen: Long)
          (batch: DataFrame, tag: String): Option[Row] = {
    val spark = batch.sparkSession
    batch.persist()
    val verdict =
      if (graft.ops.Stores.exists(spark, path, "_SUCCESS"))
        Some(graft.ops.Stats.ksDriftFromStoreBefore(spark, path,
          tag, batch, valueExpr, bucketWidth,
          thrNum, thrDen).collect().head)
          // an empty strictly-before reference is exactly what the
          // first evaluation of batch 0 saw — report None on the
          // replay too (store exists but holds only this batch's own
          // committed fold), never a zero-reference pseudo-verdict
          .filter(_.getAs[Long]("n_ref") > 0L)
      else None
    graft.ops.Quantiles.storeAppend(batch, path, tag, valueExpr, bucketWidth)
    batch.unpersist()
    verdict
  }
}
