package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming twin of the q_dq_checks constraint report
  * ([[graft.queries.Queries]] — reference: the reports the dashboard
  * examples derive per ingest, machine-dashboard/logic.rs): violation
  * counts maintained INCREMENTALLY over the event delta stream, so the
  * report is always current without ever rescanning history.
  *
  * Every supported check decomposes into monotone aggregates over
  * batch-disjoint slices:
  *
  *  - [[DqStream.NullCheck]] / [[DqStream.NonPositiveCheck]]: the
  *    violation count is a plain SUM — each batch appends its own
  *    count;
  *  - [[DqStream.OrphanCheck]] (foreign key into a static dimension):
  *    each row is judged once against the broadcastable dim, so
  *    per-batch anti-join counts are additive too (stream-static
  *    join, the watermark-free kind);
  *  - [[DqStream.OrphanStoreCheck]] (foreign key into a MAINTAINED
  *    dimension store): same additive anti-join, but the dim is
  *    re-read lazily each batch, so rows are judged against the
  *    dimension as of their batch — the check stays current while the
  *    dimension evolves;
  *  - [[DqStream.DupKeyCheck]]: `count(*) − count(DISTINCT key)` is
  *    NOT batch-additive, but both terms are: the store keeps a
  *    first-seen key set (new keys anti-joined against the store
  *    before appending) plus a row counter, and the report reads
  *    `Σ rows − |stored keys|` — exact across any batch split, no
  *    approximation.
  *
  * All of a batch's contributions land as DISCRIMINATED ROWS of ONE
  * store table through a single [[graft.ops.Stores.appendCommit]]
  * (the [[graft.ops.Baskets.pairStoreAppend]] layout): `(check, key,
  * n, tag)` where key NULL = an additive count row, key set = a
  * first-seen key (cast to string — injective for the key types a
  * constraint column carries). One commit per batch keeps the whole
  * batch's report contribution atomic and replay-idempotent: a
  * redelivered batch finds the marker and no-ops, so at-least-once
  * delivery never double-counts.
  *
  * The `tag` column makes the dup-key contribution CRASH-RETRY safe,
  * not just redelivery safe (the [[graft.ops.Dedup.simhashStoreAppend]]
  * guard): the novel-key anti-join reads the store lazily inside the
  * staged write, and a crash between appendCommit's renames and its
  * marker leaves this batch's own key rows visible to the retry. The
  * anti-join therefore probes only rows with `tag` STRICTLY BEFORE
  * this batch's, so a retry recomputes the identical staged
  * contribution no matter how much of the previous attempt landed.
  * Caller contract (as for simhashStoreAppend): tags are unique per
  * batch and lexicographically ordered by arrival.
  *
  * At 100 TB: per-batch cost tracks the batch (one pass + one
  * broadcast anti-join per orphan check + one key anti-join per dup
  * check against the store's pruned key column); the report is an
  * aggregation over counts rows plus a key count — never a rescan of
  * the event history. The key store grows with DISTINCT keys, the
  * same envelope as any exactly-once id registry. */
object DqStream {

  sealed trait Check { def name: String }
  /** Violation: `column IS NULL`. */
  final case class NullCheck(name: String, column: String) extends Check
  /** Violation: `column <= 0`. */
  final case class NonPositiveCheck(name: String, column: String) extends Check
  /** Violation: duplicate occurrences of `column` (count − distinct). */
  final case class DupKeyCheck(name: String, column: String) extends Check
  /** Violation: `column` has no match in `dim(dimColumn)` (NULL keys
    * count as orphans — the batch report's left_anti semantics). */
  final case class OrphanCheck(name: String, column: String,
                               dim: DataFrame, dimColumn: String) extends Check
  /** [[OrphanCheck]] against a MAINTAINED dimension: the referenced
    * side is a parquet store some other loop keeps appending to (the
    * [[LinkageStream]] stream-static shape), read LAZILY inside each
    * batch — so referential checks stay current as the dimension
    * evolves, without restarting this stream. Each event row is judged
    * ONCE, against the dimension AS OF its batch: a key the dimension
    * gains later does not retro-heal earlier batches' counts (the
    * additive contract — re-judging history would mean rescanning it),
    * and a key later retracted does not invalidate old passes. Crash
    * retry: the count is recomputed against the dimension as of the
    * RETRY (no self-read of the DQ store, and appendCommit's exact
    * per-tag cleanup discards any partial first attempt wholesale), so
    * the committed contribution is always one attempt's consistent
    * judgment. */
  final case class OrphanStoreCheck(name: String, column: String,
                                    dimPath: String, dimColumn: String) extends Check
  /** Violation: `column` outside [lo, hi] (NULLs don't count — range
    * violations and null violations are separate signals). */
  final case class RangeCheck(name: String, column: String,
                              lo: Double, hi: Double) extends Check
  /** Violation: non-NULL `column` has no match of `pattern` (rlike
    * FIND semantics — anchor with ^…$ for a full-string format
    * constraint on ids, codes, enum strings). */
  final case class MatchCheck(name: String, column: String,
                              pattern: String) extends Check

  /** The ONE-SHOT batch report over `df` with the same check
    * definitions — the oracle twin ([[graft.streaming.AnomalyStream]]
    * convention: spec asserts batch ≡ streamed on the same rows). */
  def batchReport(df: DataFrame, checks: Seq[Check]): DataFrame = {
    val spark = df.sparkSession
    checks.map {
      case NullCheck(n, c) =>
        df.agg(sum(when(col(c).isNull, 1L).otherwise(0L)).as("violations"))
          .select(lit(n).as("check"), coalesce(col("violations"), lit(0L)).as("violations"))
      case NonPositiveCheck(n, c) =>
        df.agg(sum(when(col(c) <= 0, 1L).otherwise(0L)).as("violations"))
          .select(lit(n).as("check"), coalesce(col("violations"), lit(0L)).as("violations"))
      case DupKeyCheck(n, c) =>
        df.agg((count(lit(1)) - countDistinct(col(c))).as("violations"))
          .select(lit(n).as("check"), col("violations"))
      case OrphanCheck(n, c, dim, dc) =>
        df.join(dim, df(c) === dim(dc), "left_anti")
          .agg(count(lit(1)).as("violations"))
          .select(lit(n).as("check"), col("violations"))
      case OrphanStoreCheck(n, c, dp, dc) =>
        val dim = graft.ops.Stores.freshRead(spark, dp).select(col(dc))
        df.join(dim, df(c) === dim(dc), "left_anti")
          .agg(count(lit(1)).as("violations"))
          .select(lit(n).as("check"), col("violations"))
      case RangeCheck(n, c, lo, hi) =>
        df.agg(sum(when(col(c) < lo || col(c) > hi, 1L).otherwise(0L))
            .as("violations"))
          .select(lit(n).as("check"), coalesce(col("violations"), lit(0L)).as("violations"))
      case MatchCheck(n, c, pat) =>
        df.agg(sum(when(col(c).isNotNull && !col(c).rlike(pat), 1L)
            .otherwise(0L)).as("violations"))
          .select(lit(n).as("check"), coalesce(col("violations"), lit(0L)).as("violations"))
    }.reduce(_ unionAll _).orderBy(col("check"))
  }

  private val ROWS_PREFIX = "_rows:"

  /** Store paths whose tag-layout guard already passed in this JVM. */
  private val validatedStores =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** One micro-batch's report contribution, committed atomically.
    * Public so the replay contract is directly testable: a second call
    * with the same batchTag must leave the store (and therefore the
    * report) unchanged. */
  def processBatch(batch: DataFrame, path: String, batchTag: String,
                   checks: Seq[Check]): Unit = {
    val spark = batch.sparkSession
    val cached = batch.persist()
    try {
      // additive count rows, one tiny agg per check (each is a
      // map-side-combined scan of the cached batch)
      val countRows: Seq[DataFrame] = checks.flatMap {
        case NullCheck(n, c) => Seq(
          cached.agg(sum(when(col(c).isNull, 1L).otherwise(0L)).as("n"))
            .select(lit(n).as("check"), lit(null).cast("string").as("key"),
              coalesce(col("n"), lit(0L)).as("n")))
        case NonPositiveCheck(n, c) => Seq(
          cached.agg(sum(when(col(c) <= 0, 1L).otherwise(0L)).as("n"))
            .select(lit(n).as("check"), lit(null).cast("string").as("key"),
              coalesce(col("n"), lit(0L)).as("n")))
        case OrphanCheck(n, c, dim, dc) => Seq(
          cached.join(dim, cached(c) === dim(dc), "left_anti")
            .agg(count(lit(1)).as("n"))
            .select(lit(n).as("check"), lit(null).cast("string").as("key"),
              col("n")))
        case OrphanStoreCheck(n, c, dp, dc) => Seq({
          // lazy per-batch read of the dimension's CURRENT committed
          // rows (a _SUCCESS'd parquet dir any other loop maintains) —
          // freshRead so another session's appends are visible despite
          // this session's listing cache. The re-read itself is
          // LOAD-BEARING, not waste: it is the "dimension AS OF the
          // batch" contract documented on [[OrphanStoreCheck]]
          val dim = graft.ops.Stores.freshRead(spark, dp).select(col(dc))
          cached.join(dim, cached(c) === dim(dc), "left_anti")
            .agg(count(lit(1)).as("n"))
            .select(lit(n).as("check"), lit(null).cast("string").as("key"),
              col("n"))
        })
        case DupKeyCheck(n, _) => Seq(
          cached.agg(count(lit(1)).as("n"))
            .select(lit(ROWS_PREFIX + n).as("check"),
              lit(null).cast("string").as("key"), col("n")))
        case RangeCheck(n, c, lo, hi) => Seq(
          cached.agg(sum(when(col(c) < lo || col(c) > hi, 1L).otherwise(0L)).as("n"))
            .select(lit(n).as("check"), lit(null).cast("string").as("key"),
              coalesce(col("n"), lit(0L)).as("n")))
        case MatchCheck(n, c, pat) => Seq(
          cached.agg(sum(when(col(c).isNotNull && !col(c).rlike(pat), 1L)
              .otherwise(0L)).as("n"))
            .select(lit(n).as("check"), lit(null).cast("string").as("key"),
              coalesce(col("n"), lit(0L)).as("n")))
      }
      // first-seen keys for each dup check: the batch's distinct keys
      // minus what STRICTLY-EARLIER batches hold. The tag cut (not the
      // bare store) makes the staged rows deterministic across crash
      // retries — a partially-renamed previous attempt of THIS batch
      // carries tag == batchTag and is excluded from the probe; full
      // redelivery after the marker no-ops in appendCommit anyway.
      val storeExists = graft.ops.Stores.exists(spark, path, "_SUCCESS")
      // schema-version guard: the tag column (and its zero-padded
      // format) arrived in v4 of this store layout. A pre-tag store
      // would fail at analysis with an opaque missing-column error, and
      // a store mixing bare `batch_10` with padded `batch_000000010`
      // tags would silently mis-sort the strictly-earlier cut — fail
      // loudly with a migration message instead. Validated ONCE per
      // (JVM, path): the tag scan is a store-sized job, and running it
      // per batch made the monitor's cost grow with store age instead
      // of batch size (measured: q_dq_stored 0.77 → 1.21 s in r12).
      // Once a path passes, only this loop writes it (single-writer
      // contract) and this loop only writes padded v4 tags.
      if (storeExists && !validatedStores.contains(path)) {
        val st = spark.read.parquet(path)
        require(st.schema.fieldNames.contains("tag"),
          s"DQ store at $path predates the tag column (layout < v4): " +
            "recreate the store at a new path (or bump the store name " +
            "version) — in-place migration is not supported")
        val badTag = st.select(col("tag")).distinct()
          .filter(col("tag").rlike("^batch_\\d{1,8}$"))
          .limit(1).collect()
        require(badTag.isEmpty,
          s"DQ store at $path holds a non-zero-padded tag " +
            s"('${badTag.headOption.map(_.getString(0)).getOrElse("")}'):" +
            " written by a pre-v4 DqStream — recreate the store at a " +
            "new path; mixing padded and bare tags would mis-sort the " +
            "strictly-earlier crash guard")
        validatedStores.add(path)
        ()
      }
      val keyRows: Seq[DataFrame] = checks.collect {
        case DupKeyCheck(n, c) =>
          val batchKeys = cached.select(col(c).cast("string").as("key"))
            .filter(col("key").isNotNull).distinct()
          val novel =
            if (!storeExists) batchKeys
            else batchKeys.join(
              spark.read.parquet(path)
                .filter(col("tag") < lit(batchTag) &&
                  col("check") === n && col("key").isNotNull)
                .select(col("key")),
              Seq("key"), "left_anti")
          novel.select(lit(n).as("check"), col("key"), lit(1L).as("n"))
      }
      val contribution = (countRows ++ keyRows).reduce(_ unionAll _)
        .withColumn("tag", lit(batchTag))
      if (!storeExists)
        contribution.limit(0).write.mode("overwrite").parquet(path)
      graft.ops.Stores.appendCommit(spark, path, batchTag) { staging =>
        contribution.write.mode("overwrite").parquet(staging)
      }
    } finally { cached.unpersist(); () }
  }

  /** The current report from a [[processBatch]] store: `(check,
    * violations)` in the batch report's exact shape. */
  def report(spark: SparkSession, path: String, checks: Seq[Check]): DataFrame = {
    graft.ops.Stores.requireStore(spark, path,
      "run processBatch (or attach) at least once before reading the report")
    val st = graft.ops.Stores.freshRead(spark, path)
    checks.map {
      case DupKeyCheck(n, _) =>
        // Σ rows − |first-seen keys|, both exact over the store
        val rows = st.filter(col("check") === (ROWS_PREFIX + n))
          .agg(coalesce(sum(col("n")), lit(0L)).as("r"))
        val keys = st.filter(col("check") === n && col("key").isNotNull)
          .agg(count(lit(1)).as("k"))
        rows.crossJoin(keys) // two 1-row sides
          .select(lit(n).as("check"), (col("r") - col("k")).as("violations"))
      case c =>
        st.filter(col("check") === c.name && col("key").isNull)
          .agg(coalesce(sum(col("n")), lit(0L)).as("violations"))
          .select(lit(c.name).as("check"), col("violations"))
    }.reduce(_ unionAll _).orderBy(col("check"))
  }

  /** Wire the loop onto a stream through [[StoreLoop]] (checkpoint dir
    * is the caller's, the [[FingerprintStream.selfMaintaining]]
    * convention). Batch ids map to ZERO-PADDED tags
    * ([[graft.ops.Stores.batchTag]]) — the strictly-earlier-tag crash
    * guard orders tags lexicographically, and bare ids would sort
    * `batch_10 < batch_9`. */
  def attach(stream: DataFrame, path: String, checks: Seq[Check])
            (onBatch: (Long, DataFrame) => Unit = (_, _) => ())
      : DataStreamWriter[Row] =
    StoreLoop.writer(stream) { (batch, tag) =>
      processBatch(batch, path, tag, checks)
      report(batch.sparkSession, path, checks)
    }(onBatch)
}
