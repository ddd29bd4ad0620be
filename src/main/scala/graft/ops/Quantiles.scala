package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fixed-bucket histogram as a MERGEABLE QUANTILE SUMMARY — the exact,
  * engine-replayable alternative to order-dependent quantile sketches
  * (t-digest / KLL / `approx_percentile`, whose buffers merge
  * nondeterministically): bucket = value div width, merge = per-bucket
  * SUM (associative/commutative — the [[Cms]] algebra), quantile
  * answers exact to ±width by construction.
  *
  * This is the monitoring shape for training pipelines — "p50/p95/p99
  * document token count per day, maintained incrementally as shards
  * arrive" — where the value RANGE is known and bounded (lengths,
  * latencies, scores) and a fixed resolution beats a sketch: the
  * histogram is ≤ range/width rows FOREVER, answers any quantile after
  * the fact, and two engines computing it can be hash-compared, which
  * no merged t-digest survives.
  *
  * Quantile rule (all-integer): target rank = ⌈q·N⌉ computed as
  * `(N·num + den − 1) div den` for the rational q = num/den; the
  * answer is the smallest bucket whose cumulative count reaches the
  * target — the standard lower-empirical-quantile definition, exact on
  * bucket boundaries and deterministic under ties.
  *
  * Scale: the build is one map-side-combinable hash aggregation to
  * ≤ range/width rows; the cumulative pass runs over the HISTOGRAM
  * (model-sized — thousands of rows for any sane width), not the data.
  * The store lifecycle is [[Cms]]'s: additive cells, exactly-once per
  * batch via [[Stores.appendCommit]] markers (sum is not idempotent).
  */
object Quantiles {

  /** (bucket, cnt) histogram of the long-valued `valueExpr`, bucket =
    * value div `bucketWidth`. Negative values bucket by floor division
    * (Spark/DuckDB `div` truncates toward zero — keep values
    * non-negative, the length/latency/score domain this targets). */
  def histogram(df: DataFrame, valueExpr: String,
                bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    df.select(expr(s"cast(($valueExpr) as bigint) div $bucketWidth")
        .as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).cast("long").as("cnt"))
  }

  /** Quantile labels with rational ranks: (label, num, den). */
  val StandardQs: Seq[(String, Int, Int)] =
    Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))

  /** Answer quantiles from a (merged) histogram: one row per label —
    * (p_label, target, bucket, lo, cum) where lo = bucket·width is the
    * answer's lower bound and cum the cumulative count at that bucket.
    * The cumulative window runs over the model-sized histogram (single
    * frame — documented; never over the data). */
  /** The i/N quantile ladder an N-shard RANGE EXPORT plans with: shard
    * i receives rows in [boundary_{i−1}, boundary_i), boundaries being
    * the i/N quantile bucket lower bounds of the merged histogram. The
    * sampling-FREE form of what Spark's RangePartitioner estimates by
    * reservoir sampling: exact (integer ⌈i·N_total/N⌉ selection over
    * exact counts), mergeable across arriving shards (the
    * [[storeAppend]] store feeds it), and bit-replayable — two planners
    * on two engines cut identical shards. Boundary resolution is the
    * histogram's `bucketWidth`; shard balance is within one bucket's
    * mass (tighten the width where balance matters). */
  def splitPoints(hist: DataFrame, nShards: Int,
                  bucketWidth: Long): DataFrame = {
    require(nShards >= 2 && nShards <= 9999,
      s"nShards in [2, 9999], got $nShards")
    quantiles(hist, splitQs(nShards), bucketWidth)
  }

  /** The (label, i, N) fraction list [[splitPoints]] selects —
    * shared with oracle SQL generation so both engines label
    * identically. */
  def splitQs(nShards: Int): Seq[(String, Int, Int)] =
    (1 until nShards).map(i => (f"s$i%04d", i, nShards))

  /** ROUTE rows with the boundaries [[splitPoints]] planned: shard i =
    * number of boundaries ≤ v (boundaries ascending), a map-only CASE
    * chain over the driver-sized boundary list — plan once, route any
    * number of arriving shards/streams against the same cut, and two
    * engines route identically because the boundaries themselves are
    * exact. This is the APPLY half of the sampling-free range
    * partitioner; `boundaries` is `lo` from [[splitPoints]] sorted
    * ascending. */
  def assignRange(v: Column, boundaries: Seq[Long]): Column = {
    require(boundaries.nonEmpty, "need at least one boundary")
    require(boundaries == boundaries.sorted, "boundaries must ascend")
    boundaries.foldLeft(lit(0)) { (acc, b) =>
      acc + when(v >= b, 1).otherwise(0)
    }.cast("int")
  }

  /** DuckDB mirror of [[assignRange]]. */
  def assignRangeSql(vExpr: String, boundaries: Seq[Long]): String =
    boundaries.map(b => s"(CASE WHEN ($vExpr) >= $b THEN 1 ELSE 0 END)")
      .mkString("CAST((", " + ", ") AS INT)")

  /** Trimmed (truncated) mean at histogram resolution — the robust
    * location card that completes the Tukey-fence family: drop the
    * lowest and highest k = ⌊N·trimNum/trimDen⌋ ranks and average what
    * remains, evaluated over the histogram's bucket LOWER BOUNDS (the
    * quantile family's convention). Per bucket, the kept row count is
    * the exact rank-interval overlap min(cum, N−k) − max(cum−cnt, k)
    * clamped at 0 — all integer; the mean is ONE final division, so
    * the whole card is engine-replayable. The plain mean is the
    * statistic a heavy-tailed length/latency column breaks (one 2 GB
    * doc drags the corpus mean); the trimmed mean is what a mix policy
    * should consume instead.
    *
    * @return one row: n, k_trim, kept_n, kept_mass (Σ lo·kept, exact),
    *         trimmed_mean */
  def trimmedMean(hist: DataFrame, trimNum: Int, trimDen: Int,
                  bucketWidth: Long): DataFrame = {
    require(trimNum >= 0 && trimDen >= 1 && 2 * trimNum < trimDen,
      s"trim fraction $trimNum/$trimDen must be in [0, 1/2)")
    val cum = hist.withColumn("cum",
      sum(col("cnt")).over(
        Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"))
    val tot = hist.agg(sum(col("cnt")).cast("long").as("n"))
    cum.crossJoin(broadcast(tot)) // one-row side: the scalar-broadcast idiom
      .withColumn("k", expr(s"n * $trimNum div $trimDen"))
      .withColumn("kept",
        greatest(
          least(col("cum"), col("n") - col("k")) -
            greatest(col("cum") - col("cnt"), col("k")),
          lit(0L)))
      .agg(
        first(col("n")).as("n"), first(col("k")).as("k_trim"),
        sum(col("kept")).cast("long").as("kept_n"),
        sum(col("kept") * col("bucket") * bucketWidth).cast("long")
          .as("kept_mass"))
      .withColumn("trimmed_mean",
        col("kept_mass").cast("double") / col("kept_n").cast("double"))
  }

  /** DuckDB mirror of [[trimmedMean]] over `src(v)` — CTEs ending in
    * `tm(n, k_trim, kept_n, kept_mass, trimmed_mean)`. */
  def trimmedMeanCtes(src: String, trimNum: Int, trimDen: Int,
                      bucketWidth: Long): String =
    s"""tm_h AS (SELECT v // $bucketWidth AS bucket,
       |    CAST(count(*) AS BIGINT) AS cnt FROM $src GROUP BY 1),
       |tm_c AS (SELECT bucket, cnt,
       |    CAST(sum(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cum FROM tm_h),
       |tm_n AS (SELECT CAST(max(cum) AS BIGINT) AS n FROM tm_c),
       |tm_p AS (SELECT bucket, cnt, cum, tm_n.n,
       |    tm_n.n * $trimNum // $trimDen AS k FROM tm_c, tm_n),
       |tm_k AS (SELECT bucket, n, k,
       |    greatest(least(cum, n - k) - greatest(cum - cnt, k),
       |      CAST(0 AS BIGINT)) AS kept FROM tm_p),
       |tm AS (SELECT CAST(max(n) AS BIGINT) AS n,
       |    CAST(max(k) AS BIGINT) AS k_trim,
       |    CAST(sum(kept) AS BIGINT) AS kept_n,
       |    CAST(sum(kept * bucket * $bucketWidth) AS BIGINT) AS kept_mass,
       |    CAST(CAST(sum(kept * bucket * $bucketWidth) AS BIGINT) AS DOUBLE)
       |      / CAST(CAST(sum(kept) AS BIGINT) AS DOUBLE) AS trimmed_mean
       |  FROM tm_k)""".stripMargin

  def quantiles(hist: DataFrame, qs: Seq[(String, Int, Int)],
                bucketWidth: Long): DataFrame = {
    require(qs.nonEmpty, "need at least one quantile")
    qs.foreach { case (l, n, d) =>
      require(n >= 1 && d >= n, s"quantile $l: need 1 <= num <= den") }
    val spark = hist.sparkSession
    import spark.implicits._
    val cum = hist
      .withColumn("cum",
        sum(col("cnt")).over(
          Window.orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = cum.agg(max("cum")).as[Long].head()
    val targets = qs.map { case (label, num, den) =>
      (label, (n * num + den - 1) / den)
    }.toDF("p_label", "target")
    val sel = targets.join(cum, col("cum") >= col("target"))
      .groupBy("p_label", "target")
      .agg(min(col("bucket")).as("bucket"))
    val out = sel.join(cum.select(col("bucket"), col("cum")), Seq("bucket"))
      .select(col("p_label"), col("target"), col("bucket"),
        (col("bucket") * bucketWidth).as("lo"), col("cum"))
    // cum stays persisted until the caller's action (clearCache
    // convention) — it fed the count, the join, and the final lookup
    out
  }

  /** DuckDB mirror of [[histogram]]+[[quantiles]] for a source relation
    * `src(v)` — CTEs ending in `hq(p_label, target, bucket, lo, cum)`.
    */
  def oracleCtes(src: String, qs: Seq[(String, Int, Int)],
                 bucketWidth: Long): String = {
    val values = qs.map { case (l, n, d) => s"('$l', $n, $d)" }.mkString(", ")
    s"""hq_h AS (SELECT v // $bucketWidth AS bucket,
       |    CAST(count(*) AS BIGINT) AS cnt FROM $src GROUP BY 1),
       |hq_c AS (SELECT bucket, cnt,
       |    CAST(sum(cnt) OVER (ORDER BY bucket) AS BIGINT) AS cum FROM hq_h),
       |hq_n AS (SELECT CAST(max(cum) AS BIGINT) AS n FROM hq_c),
       |hq_t AS (SELECT t.p_label, (hq_n.n * t.num + t.den - 1) // t.den
       |    AS target
       |  FROM (VALUES $values) AS t(p_label, num, den), hq_n),
       |hq_s AS (SELECT p_label, target, min(bucket) AS bucket
       |  FROM hq_t JOIN hq_c ON hq_c.cum >= hq_t.target GROUP BY 1, 2),
       |hq AS (SELECT hq_s.p_label, hq_s.target, hq_s.bucket,
       |    hq_s.bucket * $bucketWidth AS lo, hq_c.cum
       |  FROM hq_s JOIN hq_c USING (bucket))""".stripMargin
  }

  /** [[histogram]] per group: (group..., bucket, cnt). */
  def histogramBy(df: DataFrame, groupCols: Seq[String], valueExpr: String,
                  bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    df.select((groupCols.map(col) :+
        expr(s"cast(($valueExpr) as bigint) div $bucketWidth")
          .as("bucket")): _*)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(count(lit(1)).cast("long").as("cnt"))
  }

  /** [[quantiles]] per group, fully distributed (no driver action —
    * per-group totals come from an aggregation, not a collect): one row
    * per (group, label). The cumulative window partitions by group, so
    * each frame is one group's model-sized histogram. */
  /** @param cache persist the cumulative frame for this call's two
    *              consumers (the default; caller clearCache owns
    *              eviction). Pass FALSE from any loop that re-reads a
    *              GROWING store: the cached plan can silently match a
    *              later read and serve the pre-append file set — stale
    *              fences with no error anywhere. Recompute cost is a
    *              window over the model-sized histogram, negligible. */
  def quantilesBy(hist: DataFrame, groupCols: Seq[String],
                  qs: Seq[(String, Int, Int)],
                  bucketWidth: Long, cache: Boolean = true): DataFrame = {
    require(qs.nonEmpty, "need at least one quantile")
    qs.foreach { case (l, n, d) =>
      require(n >= 1 && d >= n, s"quantile $l: need 1 <= num <= den") }
    val spark = hist.sparkSession
    import spark.implicits._
    val gc = groupCols.map(col)
    val cum0 = hist
      .withColumn("cum",
        sum(col("cnt")).over(
          Window.partitionBy(gc: _*).orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
    val cum = if (cache)
      cum0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else cum0
    val totals = hist.groupBy(gc: _*).agg(sum(col("cnt")).cast("long").as("n"))
    val qdf = qs.toDF("p_label", "num", "den")
    val targets = totals.crossJoin(broadcast(qdf))
      .select((gc :+ col("p_label") :+
        expr("(n * num + den - 1) div den") // integer ⌈q·N⌉, never a
          .cast("long").as("target")): _*)  // double division
    val sel = targets.join(cum, groupCols)
      .filter(col("cum") >= col("target"))
      .groupBy((groupCols :+ "p_label" :+ "target").map(col): _*)
      .agg(min(col("bucket")).as("bucket"))
    sel.join(cum.select((gc :+ col("bucket") :+ col("cum")): _*),
        groupCols :+ "bucket")
      .select((gc :+ col("p_label") :+ col("target") :+ col("bucket") :+
        (col("bucket") * bucketWidth).as("lo") :+ col("cum")): _*)
  }

  /** DuckDB mirror of [[histogramBy]]+[[quantilesBy]] for a relation
    * `src(<groupCols...>, v)` — CTEs ending in
    * `hq(<groupCols...>, p_label, target, bucket, lo, cum)`. */
  def oracleCtesBy(src: String, groupCols: Seq[String],
                   qs: Seq[(String, Int, Int)],
                   bucketWidth: Long): String = {
    val g = groupCols.mkString(", ")
    val values = qs.map { case (l, n, d) => s"('$l', $n, $d)" }.mkString(", ")
    s"""hq_h AS (SELECT $g, v // $bucketWidth AS bucket,
       |    CAST(count(*) AS BIGINT) AS cnt FROM $src GROUP BY ALL),
       |hq_c AS (SELECT $g, bucket, cnt, CAST(sum(cnt) OVER (
       |    PARTITION BY $g ORDER BY bucket) AS BIGINT) AS cum FROM hq_h),
       |hq_n AS (SELECT $g, CAST(sum(cnt) AS BIGINT) AS n FROM hq_h
       |  GROUP BY ALL),
       |hq_t AS (SELECT $g, t.p_label,
       |    (hq_n.n * t.num + t.den - 1) // t.den AS target
       |  FROM hq_n, (VALUES $values) AS t(p_label, num, den)),
       |hq_s AS (SELECT $g, p_label, target, min(bucket) AS bucket
       |  FROM hq_t JOIN hq_c USING ($g)
       |  WHERE hq_c.cum >= hq_t.target GROUP BY ALL),
       |hq AS (SELECT hq_s.*, hq_s.bucket * $bucketWidth AS lo, hq_c.cum
       |  FROM hq_s JOIN hq_c USING ($g, bucket))""".stripMargin
  }

  /** Append one batch's histogram into a parquet store — rows
    * (bucket, cnt, tag); exactly-once per `batchTag` (additive merge —
    * the marker is load-bearing, as in [[Cms.storeAppend]]). */
  def storeAppend(df: DataFrame, path: String, batchTag: String,
                  valueExpr: String, bucketWidth: Long): Unit = {
    val spark = df.sparkSession
    val h = histogram(df, valueExpr, bucketWidth)
      .withColumn("tag", lit(batchTag))
    if (!Stores.exists(spark, path, "_SUCCESS"))
      h.limit(0).write.mode("overwrite").parquet(path)
    Stores.appendCommit(spark, path, batchTag) { staging =>
      h.write.mode("overwrite").parquet(staging)
    }
  }

  /** The merged histogram from an append store (sum across tags). */
  def fromStore(spark: SparkSession, path: String): DataFrame = {
    Stores.requireStore(spark, path, "append histogram batches first")
    Stores.freshRead(spark, path)
      .groupBy("bucket").agg(sum(col("cnt")).cast("long").as("cnt"))
  }

  /** TIME-TRAVEL read of a [[storeAppend]] store: the merged histogram
    * AS OF a batch tag — every batch's rows carry their `tag`, so
    * filtering `tag <= asOfTag` (lexicographic; the zero-padded
    * [[Stores.batchTag]] scheme makes that arrival order) reconstructs
    * exactly the histogram any PAST read saw. The audit/reproducibility
    * primitive a maintained store gets for free from its idempotence
    * tags: re-grade yesterday's report, bisect a drift alarm to the
    * batch that introduced it, or pin an experiment to a data state —
    * no snapshots, no copies, one predicate that PRUNES on the tag
    * column's parquet min/max. */
  def fromStoreAsOf(spark: SparkSession, path: String,
                    asOfTag: String): DataFrame = {
    Stores.requireStore(spark, path, "append histogram batches first")
    Stores.freshRead(spark, path)
      .filter(col("tag") <= asOfTag)
      .groupBy("bucket").agg(sum(col("cnt")).cast("long").as("cnt"))
  }

  /** TRACE read of a [[storeAppend]] store: the merged histogram's
    * quantiles AS OF every batch tag — the drift-review companion to
    * [[fromStoreAsOf]] ("how did p50/p99 move as batches arrived"),
    * each row bit-identical to the as-of read at that tag. One
    * broadcast range-join of the model-sized store rows against the
    * ≤ #tags tag axis (rows × tags stays model-sized), then the usual
    * integer ⌈q·N⌉ selection per tag.
    *
    * @return per (tag, quantile): tag, p_label, target, bucket, lo,
    *         cum */
  def quantilesTraceFromStore(spark: SparkSession, path: String,
                              qs: Seq[(String, Int, Int)],
                              bucketWidth: Long): DataFrame = {
    Stores.requireStore(spark, path, "append histogram batches first")
    val rows = Stores.freshRead(spark, path)
    val tags = rows.select(col("tag")).distinct()
      .withColumnRenamed("tag", "at")
    val cum = rows.join(broadcast(tags), col("tag") <= col("at"))
      .groupBy(col("at"), col("bucket"))
      .agg(sum(col("cnt")).cast("long").as("cnt"))
      .withColumnRenamed("at", "tag")
    // no caching: this runs per review over a growing store (the
    // tukeyOutliersFromStore cache=false reasoning)
    quantilesBy(cum, Seq("tag"), qs, bucketWidth, cache = false)
  }

  /** GROUPED [[fromStoreAsOf]]. */
  def fromStoreByAsOf(spark: SparkSession, path: String,
                      groupCols: Seq[String], asOfTag: String): DataFrame = {
    Stores.requireStore(spark, path, "append histogram batches first")
    Stores.freshRead(spark, path)
      .filter(col("tag") <= asOfTag)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(sum(col("cnt")).cast("long").as("cnt"))
  }

  /** GROUPED [[storeAppend]]: per-(group, bucket) counts, the additive
    * store behind per-source monitors ([[quantilesBy]],
    * [[tukeyOutliers]], [[histRank]] all consume its merge). Same
    * marker contract — sum-merge is not idempotent. In a stream it is
    * the state behind the robust-outlier gate: each batch can be
    * flagged against fences learned from everything before it
    * ([[tukeyOutliersFromStore]] read before this batch folds in — or
    * after, for fences that include it; the caller picks). */
  def storeAppendBy(df: DataFrame, path: String, batchTag: String,
                    groupCols: Seq[String], valueExpr: String,
                    bucketWidth: Long): Unit = {
    val spark = df.sparkSession
    val h = histogramBy(df, groupCols, valueExpr, bucketWidth)
      .withColumn("tag", lit(batchTag))
    if (!Stores.exists(spark, path, "_SUCCESS"))
      h.limit(0).write.mode("overwrite").parquet(path)
    Stores.appendCommit(spark, path, batchTag) { staging =>
      h.write.mode("overwrite").parquet(staging)
    }
  }

  /** Merged per-group histogram from a [[storeAppendBy]] store. */
  def fromStoreBy(spark: SparkSession, path: String,
                  groupCols: Seq[String]): DataFrame = {
    Stores.requireStore(spark, path, "append histogram batches first")
    Stores.freshRead(spark, path)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(sum(col("cnt")).cast("long").as("cnt"))
  }

  /** [[tukeyOutliers]] with the quartile/fence table read from a
    * MAINTAINED histogram store instead of a fresh aggregation — the
    * arriving data (typically the newest batch) is flagged against
    * fences learned from everything the store has absorbed. Cleanly
    * splits monitor state (the store) from the monitored slice.
    *
    * Groups present in the slice but ABSENT from the store (a
    * brand-new source arriving mid-stream — exactly the group most
    * worth flagging) still emit a row: n is real, the fence columns
    * and both outlier counts are NULL ("no fences learned yet"), so
    * the monitor can route them to review instead of silently
    * dropping them (the inner-join shape lost precisely those rows).
    * `cache = false` on the quantile pass: this runs per batch over a
    * GROWING store, the one consumer the cached cumulative frame must
    * not outlive (unbounded persist churn + a stale-listing hazard if
    * another session appends). */
  def tukeyOutliersFromStore(df: DataFrame, path: String,
                             groupCols: Seq[String], valueExpr: String,
                             bucketWidth: Long): DataFrame = {
    val gc = groupCols.map(col)
    val hist = fromStoreBy(df.sparkSession, path, groupCols)
    val qs = Seq(("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4))
    val piv = quantilesBy(hist, groupCols, qs, bucketWidth, cache = false)
      .groupBy(gc: _*)
      .agg(
        max(when(col("p_label") === "p25", col("lo"))).as("p25"),
        max(when(col("p_label") === "p50", col("lo"))).as("p50"),
        max(when(col("p_label") === "p75", col("lo"))).as("p75"))
      .withColumn("iqr", col("p75") - col("p25"))
    df.select((gc :+ expr(s"cast(($valueExpr) as bigint)").as("v")): _*)
      .join(broadcast(piv), groupCols, "left")
      .groupBy(gc: _*)
      .agg(
        count(lit(1)).cast("long").as("n"),
        first(col("p25")).as("p25"), first(col("p50")).as("p50"),
        first(col("p75")).as("p75"), first(col("iqr")).as("iqr"),
        sum(when(col("v") * 2 < col("p25") * 2 - col("iqr") * 3, 1L)
          .otherwise(0L)).cast("long").as("n_low"),
        sum(when(col("v") * 2 > col("p75") * 2 + col("iqr") * 3, 1L)
          .otherwise(0L)).cast("long").as("n_high"))
      .withColumn("n_low",
        when(col("iqr").isNull, lit(null).cast("long"))
          .otherwise(col("n_low")))
      .withColumn("n_high",
        when(col("iqr").isNull, lit(null).cast("long"))
          .otherwise(col("n_high")))
  }

  /** ROBUST outlier card — Tukey fences over the mergeable histogram:
    * per group, rows outside [p25 − 1.5·IQR, p75 + 1.5·IQR] counted
    * as outliers, with the quartiles read from [[quantilesBy]]'s
    * bucket lower bounds. The mean/σ z-score (q_rolling_z's shape)
    * breaks down exactly when outliers matter most — the outliers
    * inflate σ and hide themselves; quartiles don't move (Tukey 1977).
    *
    * Exactness: quartiles are integers (bucket·width), and the fences
    * evaluate in 2×-integer form (2v < 2·p25 − 3·IQR) so the 1.5
    * multiplier never touches floating point — the whole card is
    * integer-exact at any scale.
    *
    * Scale: one histogram aggregation (model-sized output), the
    * quantile pass over it, then ONE broadcast join of the
    * groups-sized fence table back onto the data and a counting
    * aggregation — no sort of the data anywhere (the [[percentileRank]]
    * contrast: this is the sketch-resolution robust monitor that
    * survives a dominant group).
    *
    * @return per group: n, p25, p50, p75, iqr, n_low, n_high
    */
  def tukeyOutliers(df: DataFrame, groupCols: Seq[String],
                    valueExpr: String, bucketWidth: Long): DataFrame = {
    val gc = groupCols.map(col)
    val rows = df.select((gc :+ expr(s"cast(($valueExpr) as bigint)")
      .as("v")): _*)
    val hist = histogramBy(rows, groupCols, "v", bucketWidth)
    val qs = Seq(("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4))
    val piv = quantilesBy(hist, groupCols, qs, bucketWidth,
      cache = false)
      .groupBy(gc: _*)
      .agg(
        max(when(col("p_label") === "p25", col("lo"))).as("p25"),
        max(when(col("p_label") === "p50", col("lo"))).as("p50"),
        max(when(col("p_label") === "p75", col("lo"))).as("p75"))
      .withColumn("iqr", col("p75") - col("p25"))
    rows.join(broadcast(piv), groupCols)
      .groupBy(gc: _*)
      .agg(
        count(lit(1)).cast("long").as("n"),
        first(col("p25")).as("p25"), first(col("p50")).as("p50"),
        first(col("p75")).as("p75"), first(col("iqr")).as("iqr"),
        sum(when(col("v") * 2 < col("p25") * 2 - col("iqr") * 3, 1L)
          .otherwise(0L)).cast("long").as("n_low"),
        sum(when(col("v") * 2 > col("p75") * 2 + col("iqr") * 3, 1L)
          .otherwise(0L)).cast("long").as("n_high"))
  }

  /** DuckDB mirror of [[tukeyOutliers]] for `src(<groupCols...>, v)` —
    * composes [[oracleCtesBy]] and ends in relation
    * `tk(<groupCols...>, n, p25, p50, p75, iqr, n_low, n_high)`. */
  def tukeyOracleCtes(src: String, groupCols: Seq[String],
                      bucketWidth: Long): String = {
    val g = groupCols.mkString(", ")
    s"""${oracleCtesBy(src, groupCols,
         Seq(("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4)), bucketWidth)},
       |tk_p AS (SELECT $g,
       |    max(CASE WHEN p_label = 'p25' THEN lo END) AS p25,
       |    max(CASE WHEN p_label = 'p50' THEN lo END) AS p50,
       |    max(CASE WHEN p_label = 'p75' THEN lo END) AS p75,
       |    max(CASE WHEN p_label = 'p75' THEN lo END)
       |      - max(CASE WHEN p_label = 'p25' THEN lo END) AS iqr
       |  FROM hq GROUP BY ALL),
       |tk AS (SELECT $g, CAST(count(*) AS BIGINT) AS n,
       |    any_value(p25) AS p25, any_value(p50) AS p50,
       |    any_value(p75) AS p75, any_value(iqr) AS iqr,
       |    CAST(sum(CASE WHEN v * 2 < p25 * 2 - iqr * 3
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
       |    CAST(sum(CASE WHEN v * 2 > p75 * 2 + iqr * 3
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_high
       |  FROM $src JOIN tk_p USING ($g) GROUP BY ALL)""".stripMargin
  }

  /** SKETCH-PATH percentile rank — [[percentileRank]] at bucket
    * resolution, computed from the mergeable histogram instead of a
    * per-group sort: a row's rank is cum(bucket)/N, the fraction of its
    * group with bucket ≤ its own (an upper rank, within one bucket
    * width of the exact cume_dist). This is the documented skew escape
    * for calibration: no partition ever sorts — the cumulative window
    * runs over the model-sized histogram, and rows pick up their rank
    * through ONE broadcast join on (group, bucket). Works unchanged
    * from a [[storeAppend]]-maintained histogram, which the exact path
    * cannot (a sort is not mergeable; a histogram is).
    *
    * The rank is one division of two group-local integers —
    * engine-bit-identical, like the exact path. */
  def histRank(df: DataFrame, groupCols: Seq[String], scoreExpr: String,
               bucketWidth: Long, outCol: String = "hist_pct"): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    val gc = groupCols.map(col)
    val rows = df.withColumn("_hr_bucket",
      expr(s"cast(($scoreExpr) as bigint) div $bucketWidth"))
    val hist = rows.groupBy((gc :+ col("_hr_bucket")): _*)
      .agg(count(lit(1)).cast("long").as("cnt"))
    val cum = hist.withColumn("_hr_cum",
        sum(col("cnt")).over(
          Window.partitionBy(gc: _*).orderBy("_hr_bucket")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      .withColumn("_hr_n",
        sum(col("cnt")).over(Window.partitionBy(gc: _*)).cast("long"))
      .select((gc :+ col("_hr_bucket") :+ col("_hr_cum") :+ col("_hr_n")): _*)
    rows.join(broadcast(cum), groupCols :+ "_hr_bucket")
      .withColumn(outCol,
        col("_hr_cum").cast("double") / col("_hr_n").cast("double"))
      .drop("_hr_bucket", "_hr_cum", "_hr_n")
  }

  /** PERCENTILE-RANK calibration: each row's score replaced by its
    * within-group cumulative fraction (`cume_dist` — the count of group
    * rows with score ≤ this one over the group size, ties counted
    * together). The cross-source comparability fix every mixed-corpus
    * curation hits: raw quality scores are not comparable across
    * sources (different length/style baselines), but "top 10% of ITS
    * source" is — filtering on the calibrated rank applies the same
    * selectivity everywhere instead of letting one source's score
    * distribution dominate the cut.
    *
    * Exactness: the rank is one division of two group-local integers —
    * engine-bit-identical, no rounding needed. Determinism under ties
    * is structural (peers share one value regardless of row order).
    *
    * Scale: one sort per group partition (a window, not a global sort);
    * the straggler bound is the LARGEST group. For corpora where one
    * source dwarfs the rest, the sketch path is the same monitor
    * without the sort: [[histogramBy]] + [[quantilesBy]] give
    * bucket-resolution ranks from a mergeable store ([[storeAppend]]).
    */
  def percentileRank(df: DataFrame, groupCols: Seq[String],
                     scoreExpr: String,
                     outCol: String = "pct_rank"): DataFrame =
    df.withColumn(outCol, cume_dist().over(
      Window.partitionBy(groupCols.map(col): _*).orderBy(expr(scoreExpr))))
}
