package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming CRAWL-FRONTIER dedup over a self-maintaining seen-set
  * store keyed by [[graft.ops.Web.canonicalUrl]] — the streaming twin
  * of q_url_dedup: arriving crawl URLs are canonicalized (tracking
  * params, default ports, dot-segments, percent-encoding and host
  * case all collapse, so every spelling of a page shares one key),
  * deduped against every canonical URL the frontier has EVER emitted,
  * and the novel keys fold back into the store so the next batch
  * dedups against them — stream-lifetime exactness, the store-backed
  * alternative to [[FingerprintStream.dedupWithinWatermark]]'s
  * horizon semantics (which this family keeps for bounded-state
  * windows; the composition is one `withColumn` — canonicalUrl is a
  * pure Column).
  *
  * Per micro-batch ([[processBatch]], public for the replay
  * contract):
  *
  *  1. canonicalize + batch-local distinct (one spelling per key);
  *  2. anti-join the store's PRE-BATCH view — store rows carry the
  *     batch tag that appended them, and the view EXCLUDES the
  *     current batch's own tag, so an at-least-once replay whose
  *     first attempt already appended sees the identical pre-append
  *     store and emits the identical novel set (the
  *     [[FingerprintStream]] step-2 discipline, keyed by tag instead
  *     of id anti-join because the key IS the row);
  *  3. the novel keys append under `_appended_<tag>` marker
  *     idempotency ([[graft.ops.Stores.appendCommit]]) — a replayed
  *     append is a no-op, so crash-between-append-and-checkpoint
  *     restarts converge to the uninterrupted run bit-for-bit;
  *  4. `onBatch(batchId, novel)` with the novel canonical URLs.
  *
  * Scale: per batch ONE anti-join on the canonical key against the
  * merged store — the exact-dedup shape (hash-partitioned equality,
  * never all-pairs). The store grows by novel keys only; compact it
  * with [[graft.ops.Stores.compact]] on the maintenance cadence, and
  * at 100 TB lay it out bucketed by `curl` so the per-batch probe
  * co-locates (the minhashBandsStored layout convention). */
object UrlFrontierStream {

  /** Canonical-URL seen-set schema: (curl, batch_tag). */
  private def novelFrame(spark: SparkSession): DataFrame =
    spark.range(0).select(lit("").as("curl"), lit("").as("batch_tag"))

  /** Seed an empty frontier store (idempotent — an existing store is
    * left untouched). */
  def seed(spark: SparkSession, path: String): Unit =
    if (!graft.ops.Stores.exists(spark, path, "_SUCCESS"))
      novelFrame(spark).limit(0).write.mode("overwrite").parquet(path)

  def selfMaintaining(urls: DataFrame, path: String,
                      urlCol: String = "url")
                     (onBatch: (Long, DataFrame) => Unit)
      : DataStreamWriter[Row] = {
    graft.ops.Stores.requireStore(urls.sparkSession, path,
      "seed it with UrlFrontierStream.seed")
    StoreLoop.writer(urls)(novelKeys(path, urlCol))(released(onBatch))
  }

  /** One micro-batch — calling this twice with the same (batch,
    * batchId) MUST emit bit-identical novel sets and leave the store
    * unchanged the second time. */
  def processBatch(batch: DataFrame, batchId: Long, path: String,
                   urlCol: String)
                  (onBatch: (Long, DataFrame) => Unit): Unit =
    StoreLoop.batchFn(novelKeys(path, urlCol))(released(onBatch))(batch, batchId)

  /** Steps 1–3: the batch's novel canonical URLs, persisted. */
  private def novelKeys(path: String, urlCol: String)
                       (batch: DataFrame, tag: String): DataFrame = {
    val spark = batch.sparkSession
    val keys = batch
      .select(graft.ops.Web.canonicalUrl(col(urlCol)).as("curl"))
      .filter(col("curl").isNotNull)
      .distinct()
    val storedPreBatch = graft.ops.Stores.freshRead(spark, path)
      .filter(col("batch_tag") =!= tag)
      .select("curl")
    val novel = keys
      .join(storedPreBatch, Seq("curl"), "left_anti")
      .persist()
    novel.count() // force before the append: the plan reads pre-batch files
    graft.ops.Stores.appendCommit(spark, path, tag) { staging =>
      novel.select(col("curl"), lit(tag).as("batch_tag"))
        .write.mode("overwrite").parquet(staging)
    }
    novel
  }

  /** Step 4, then the novel set's cache is released. */
  private def released(onBatch: (Long, DataFrame) => Unit)
                      (batchId: Long, novel: DataFrame): Unit = {
    onBatch(batchId, novel)
    novel.unpersist()
    ()
  }
}
