package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming overlap dedup over a SELF-MAINTAINING winnowed-fingerprint
  * store — the [[NearDupStream.selfMaintaining]] loop on winnowing
  * postings ([[graft.ops.Fingerprints]]). Where the MinHash loop offers
  * probabilistic recall, this one carries winnowing's DETECTION FLOOR:
  * any arriving doc sharing a token run ≥ w+k−1 with the corpus (or
  * with an earlier doc in its own batch) shares a stored fingerprint
  * and WILL be flagged. Per micro-batch:
  *
  *  1. the batch is winnowed once (postings persisted for all three
  *     consumers);
  *  2. cross pairs against the store WITH THE BATCH'S OWN IDS
  *     ANTI-JOINED OUT FIRST — before the df histogram, not just
  *     before the join: an at-least-once replay whose first attempt
  *     already appended would otherwise (a) pair the batch with
  *     itself and (b) shift stored-fingerprint df counts across the
  *     cap, silently changing which cross pairs survive. Removing the
  *     batch's ids up front restores the pre-append store view, so
  *     every attempt of a batch computes IDENTICAL crossPairs and
  *     survivors (no-op on the first attempt — the store doesn't hold
  *     the batch yet). Then df-capped on the restored STORED
  *     fingerprints (corpus boilerplate pruned before the join);
  *  3. within-batch pairs on the batch's own capped postings, the
  *     higher id of each pair cut (keep-lowest-id);
  *  4. survivors' postings fold into the store
  *     ([[graft.ops.Fingerprints.winnowStoreAppend]], marker-idempotent
  *     per batch id) so the NEXT batch dedups against corpus + all
  *     prior survivors;
  *  5. `onBatch(batchId, crossPairs, survivors)`.
  *
  * Both results are forced BEFORE the append so their plans read the
  * store's pre-batch file set. Per-batch cost tracks the batch: the
  * store is read (postings + one vocabulary-sized df histogram), never
  * re-tokenized. */
object FingerprintStream {

  /** HORIZON-SCOPED exact dedup on Spark's built-in
    * `dropDuplicatesWithinWatermark`: keyed state holds each id only
    * until the watermark passes its event time + delay, so total state
    * is one horizon of arrival volume — the bounded-state alternative
    * to the store-backed loops below when "duplicate" only matters
    * within a detection window (exactly the
    * [[NearDupStream.pairsWindowed]] trade, here for EXACT ids on the
    * engine's own operator instead of custom state). The honest
    * semantics difference from a store: a duplicate arriving AFTER its
    * original's state was evicted passes through — callers wanting
    * stream-lifetime exactness use [[selfMaintaining]]'s store.
    *
    * @param idCols duplicate identity (e.g. the content fingerprint)
    * @param tsCol  event-time column (TimestampType)
    * @param delay  watermark delay = the detection horizon
    */
  def dedupWithinWatermark(docs: DataFrame, idCols: Seq[String],
                           tsCol: String, delay: String): DataFrame = {
    require(idCols.nonEmpty, "need at least one identity column")
    docs.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)
  }

  def selfMaintaining(docs: DataFrame, path: String, minShared: Int,
                      dfCap: Int, k: Int = 3, w: Int = 4,
                      idCol: String = "doc_id", textCol: String = "text")
                     (onBatch: (Long, DataFrame, DataFrame) => Unit)
      : DataStreamWriter[Row] = {
    require(graft.ops.Stores.exists(docs.sparkSession, path, "_SUCCESS"),
      s"no fingerprint store at $path — seed it with winnowStored")
    StoreLoop.writer(docs)(
      dedupAppend(path, minShared, dfCap, k, w, idCol, textCol))(
      released(onBatch))
  }

  /** One micro-batch of the loop — public so the at-least-once replay
    * contract is directly testable: calling this twice with the same
    * (batch, batchId) MUST emit bit-identical crossPairs/survivors and
    * leave the store unchanged the second time, including when the
    * first attempt's append pushed a stored fingerprint's df across
    * `dfCap`. */
  def processBatch(batch: DataFrame, batchId: Long, path: String,
                   minShared: Int, dfCap: Int, k: Int, w: Int,
                   idCol: String, textCol: String)
                  (onBatch: (Long, DataFrame, DataFrame) => Unit): Unit =
    StoreLoop.batchFn(
      dedupAppend(path, minShared, dfCap, k, w, idCol, textCol))(
      released(onBatch))(batch, batchId)

  /** Steps 1–4: the batch's persisted postings, cross pairs and
    * survivors, the survivors' postings folded into the store. */
  private def dedupAppend(path: String, minShared: Int, dfCap: Int,
                          k: Int, w: Int, idCol: String, textCol: String)
                         (batch: DataFrame, tag: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val spark = batch.sparkSession
    val fps = graft.ops.Fingerprints
      .winnow(batch, k, w, idCol, textCol).persist()
    // cross + within-batch joins are the BATCH operators' own
    // definitions over the precomputed postings (one df-cap
    // discipline, no stream/batch divergence). The batch's own ids
    // leave the STORED side before anything is computed over it —
    // df histogram included — so a replayed batch whose first
    // attempt already appended sees the identical pre-append store
    // (Scaladoc step 2)
    val storedPreBatch = graft.ops.Stores.freshRead(spark, path)
      .join(fps.select(col("id")).distinct(), Seq("id"), "left_anti")
    val crossPairs = graft.ops.Fingerprints
      .crossPairsFromPostings(storedPreBatch, fps, minShared, dfCap)
      .persist()
    val innerCut = graft.ops.Fingerprints
      .pairsFromPostings(fps, minShared, dfCap)
      .select(col("id_b").as(idCol)).distinct()
    val dupOfStore = crossPairs.select(col("probe_id").as(idCol)).distinct()
    val survivors = batch
      .join(dupOfStore, Seq(idCol), "left_anti")
      .join(innerCut, Seq(idCol), "left_anti")
      .persist()
    crossPairs.count(); survivors.count()
    // survivors' postings are a filter of the ALREADY-persisted batch
    // postings (selection is deterministic) — append those instead of
    // re-tokenizing the surviving documents
    graft.ops.Fingerprints.postingsAppend(
      fps.join(survivors.select(col(idCol).as("id")), Seq("id"), "left_semi"),
      path, batchTag = tag, spark)
    (fps, crossPairs, survivors)
  }

  /** Step 5, then the batch's three caches are released. */
  private def released(onBatch: (Long, DataFrame, DataFrame) => Unit)
                      (batchId: Long,
                       results: (DataFrame, DataFrame, DataFrame)): Unit = {
    val (fps, crossPairs, survivors) = results
    onBatch(batchId, crossPairs, survivors)
    fps.unpersist(); crossPairs.unpersist(); survivors.unpersist()
    ()
  }
}
