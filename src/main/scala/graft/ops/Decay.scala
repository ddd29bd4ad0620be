package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Half-life-decayed counts — the recency weighting a freshness-aware
  * training-data sampler runs over event/interaction history (newer
  * engagement should dominate mixing weights; stale signals fade) —
  * WITHOUT transcendentals: instead of exp(−λ·age) (whose ln/exp this
  * engine's exactness discipline bans — not bit-replayable across
  * engines), age is bucketed into whole half-lives and the weight is
  * the exact dyadic 2^−b. Within one half-life the weight is flat; the
  * envelope matches the exponential at every bucket boundary — the
  * resolution any decay-informed POLICY decision (mix ratios, eviction)
  * actually consumes.
  *
  * Exactness: each row contributes the INTEGER 2^(B−b) (B = `maxBuckets`
  * cap; rows older than B half-lives contribute 0 — documented
  * truncation, also what keeps the sum in bounded integers). The group
  * sum is a long sum — order-free — and the reported score divides
  * once by 2^B (long→double conversion and one division, both
  * IEEE-deterministic in any engine).
  *
  * Scale: map-only weight assignment + one map-side-combinable hash
  * aggregation; no window, no sort, no state. The scaled sum stays
  * exact while n·2^B < 2^63 — at B = 40 that is ~8.4M rows per group
  * of headroom in the worst case (every row in the newest bucket);
  * callers aggregating bigger groups lower B or pre-aggregate per
  * (group, bucket) first ([[decayedBuckets]] — also the additive-store
  * form: per-bucket counts are plain sums, so batches fold in by
  * appending and decay is applied at READ time against any asOf).
  */
object Decay {

  /** Per-(group, absolute period) event counts — the ADDITIVE form:
    * `period = ts div halfLife` is asOf-independent, so these rows can
    * live in an append store and batches merge by summing (the
    * mergeable-histogram contract). Decay happens at read time in
    * [[decayedFromBuckets]]. */
  def decayedBuckets(df: DataFrame, groupCols: Seq[String],
                     tsUsCol: String, halfLifeUs: Long): DataFrame = {
    require(halfLifeUs >= 1, "halfLifeUs must be >= 1")
    val gc = groupCols.map(col)
    df.select((gc :+ expr(s"($tsUsCol) div $halfLifeUs").as("period")): _*)
      .groupBy((gc :+ col("period")): _*)
      .agg(count(lit(1)).cast("long").as("cnt"))
  }

  /** Fold decay over [[decayedBuckets]] rows against `asOfUs`: bucket
    * b = asOfPeriod − period (future rows, b < 0, are excluded — an
    * asOf read must not see events after it), weight 2^(B−b) scaled.
    *
    * asOf GRANULARITY: bucket rows carry whole periods, so the cut is
    * `period ≤ asOf div halfLife` — an asOf mid-period includes that
    * period's LATER rows too (the store cannot see inside a period).
    * [[decayedCounts]] cuts at exact ts; the two agree whenever asOf
    * is a period boundary − 1 or no ingested row postdates asOf within
    * its period — the natural state of a streaming ingest, whose
    * batches only ever contain past rows ([[storeAppend]]'s caller
    * contract; the property spec pins the agreement).
    * @return per group: n_events, decayed_scaled (Σ 2^(B−b), exact
    *         long), decayed (scaled / 2^B, double) */
  def decayedFromBuckets(buckets: DataFrame, groupCols: Seq[String],
                         asOfUs: Long, halfLifeUs: Long,
                         maxBuckets: Int = 40): DataFrame = {
    require(maxBuckets >= 1 && maxBuckets <= 62,
      s"maxBuckets in [1, 62] (weights are long-scaled), got $maxBuckets")
    val gc = groupCols.map(col)
    val asOfPeriod = java.lang.Math.floorDiv(asOfUs, halfLifeUs)
    val b = lit(asOfPeriod) - col("period")
    buckets.filter(col("period") <= asOfPeriod)
      .select((gc :+ col("cnt") :+
        when(b <= maxBuckets,
          expr(s"shiftleft(CAST(1 AS BIGINT), " +
            s"CAST($maxBuckets - ($asOfPeriod - period) AS INT))"))
          .otherwise(0L).as("w")): _*)
      .groupBy(gc: _*)
      .agg(
        sum(col("cnt")).cast("long").as("n_events"),
        sum(col("cnt") * col("w")).cast("long").as("decayed_scaled"))
      .withColumn("decayed",
        col("decayed_scaled").cast("double") /
          lit(math.pow(2.0, maxBuckets.toDouble)))
  }

  /** One-shot [[decayedBuckets]] + [[decayedFromBuckets]]. */
  def decayedCounts(df: DataFrame, groupCols: Seq[String], tsUsCol: String,
                    asOfUs: Long, halfLifeUs: Long,
                    maxBuckets: Int = 40): DataFrame =
    decayedFromBuckets(
      decayedBuckets(df.filter(expr(s"($tsUsCol) <= $asOfUs")), groupCols,
        tsUsCol, halfLifeUs),
      groupCols, asOfUs, halfLifeUs, maxBuckets)

  /** Fold one batch's [[decayedBuckets]] rows into an additive append
    * store (the [[Quantiles.storeAppendBy]] lifecycle: marker-gated
    * exactly-once per `batchTag`, sum-merge at read — sums are not
    * idempotent, so the marker is load-bearing). Store rows are
    * (groupCols..., period, cnt, tag) — keyed on ABSOLUTE periods and
    * asOf-independent, so ANY later asOf replays against the same
    * store and decay is applied only at read time: the store never
    * needs rewriting as time advances, unlike stored pre-decayed
    * scores, which stale the moment they land. */
  def storeAppend(df: DataFrame, path: String, batchTag: String,
                  groupCols: Seq[String], tsUsCol: String,
                  halfLifeUs: Long): Unit = {
    val spark = df.sparkSession
    val b = decayedBuckets(df, groupCols, tsUsCol, halfLifeUs)
      .withColumn("tag", lit(batchTag))
    if (!Stores.exists(spark, path, "_SUCCESS"))
      b.limit(0).write.mode("overwrite").parquet(path)
    Stores.appendCommit(spark, path, batchTag) { staging =>
      b.write.mode("overwrite").parquet(staging)
    }
  }

  /** RETRACT a previously-appended batch from the store — the engine's
    * ±1 delta discipline applied to the decay family: because the read
    * path is a plain sum over (group, period) counts, a takedown is
    * just the batch's bucket rows with NEGATED counts appended under a
    * retraction tag (marker-gated exactly-once like any append; the
    * original rows stay immutable — audit-preserving, no rewrite).
    * Caller passes the same rows/params the original append saw. */
  def storeRetract(df: DataFrame, path: String, batchTag: String,
                   groupCols: Seq[String], tsUsCol: String,
                   halfLifeUs: Long): Unit = {
    val spark = df.sparkSession
    Stores.requireStore(spark, path, "nothing to retract from")
    val b = decayedBuckets(df, groupCols, tsUsCol, halfLifeUs)
      .withColumn("cnt", -col("cnt"))
      .withColumn("tag", lit(s"retract_$batchTag"))
    Stores.appendCommit(spark, path, s"retract_$batchTag") { staging =>
      b.write.mode("overwrite").parquet(staging)
    }
  }

  /** TIME-TRAVEL [[decayedFromStore]]: the report AS OF a batch tag
    * (lexicographic cut on the stored `tag` — the zero-padded scheme
    * orders by arrival; a retraction tagged `retract_<t>` sorts after
    * every `b...`/`batch_...` tag, so an as-of read BEFORE the
    * retraction shows the pre-takedown state — the audit trail a
    * takedown must not erase). Combined with an explicit `asOfUs`, this
    * answers "what would the freshness report have said then" exactly. */
  def decayedFromStoreAsOf(spark: org.apache.spark.sql.SparkSession,
                           path: String, groupCols: Seq[String],
                           asOfUs: Long, halfLifeUs: Long, asOfTag: String,
                           maxBuckets: Int = 40): DataFrame = {
    Stores.requireStore(spark, path, "append decay batches first")
    val merged = Stores.freshRead(spark, path)
      .filter(col("tag") <= asOfTag)
      .groupBy((groupCols :+ "period").map(col): _*)
      .agg(sum(col("cnt")).cast("long").as("cnt"))
      .filter(col("cnt") =!= 0L)
    decayedFromBuckets(merged, groupCols, asOfUs, halfLifeUs, maxBuckets)
  }

  /** The decayed report from a [[storeAppend]] store: merge the
    * per-batch period counts (plain sum — the additive contract) and
    * fold decay against `asOfUs` at READ time. */
  def decayedFromStore(spark: org.apache.spark.sql.SparkSession,
                       path: String, groupCols: Seq[String], asOfUs: Long,
                       halfLifeUs: Long, maxBuckets: Int = 40): DataFrame = {
    Stores.requireStore(spark, path, "append decay batches first")
    val merged = Stores.freshRead(spark, path)
      .groupBy((groupCols :+ "period").map(col): _*)
      .agg(sum(col("cnt")).cast("long").as("cnt"))
      // a fully-retracted (group, period) nets to zero — drop it so a
      // takedown leaves the report indistinguishable from never-ingested
      .filter(col("cnt") =!= 0L)
    decayedFromBuckets(merged, groupCols, asOfUs, halfLifeUs, maxBuckets)
  }
}
