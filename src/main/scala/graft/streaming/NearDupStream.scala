package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming near-duplicate detection: MinHash-LSH with per-bucket
  * state, so a near-dup of a document from ANY earlier micro-batch is
  * caught the moment it arrives — the incremental profile of
  * [[graft.ops.Dedup.minhashLsh]].
  *
  * Shape: the codegen'd signature/band pipeline runs map-only on each
  * micro-batch (same kernels as batch); the stream is then keyed by
  * (band, band_hash) and `flatMapGroupsWithState` keeps the signatures
  * seen in each bucket. A new arrival compares against its bucket's
  * residents (estimated Jaccard = signature agreement), emits
  * qualifying pairs, and joins the bucket. State per key is capped at
  * `maxBucket` residents (oldest evicted) — LSH buckets are small by
  * construction, and the cap bounds state exactly like the reference's
  * monotonic operators bound theirs to one row per key.
  *
  * A pair sharing several bands is emitted once per band (append-mode
  * streams cannot re-aggregate their own output); downstream
  * consolidation — a batch `dropDuplicates` on the sink table or the
  * delta-sink's consolidation step — collapses them.
  */
object NearDupStream {

  /** (id_a, id_b, jaccard_est) with id_a < id_b, emitted as arrivals
    * close a pair. `docs` carries (doc_id, text). */
  case class Pair(id_a: Long, id_b: Long, jaccard_est: Double)

  /** Shared scoring kernel of the two MinHash streams: estimated
    * Jaccard (signature agreement) of the arrival against each
    * resident, emitting qualifying pairs. */
  private def scoreAgainst(id: Long, sig: Seq[Long],
                           residents: Iterator[(Long, Seq[Long])],
                           k: Double, tau: Double): Iterator[Pair] =
    residents.flatMap { case (oid, osig) =>
      val agree = sig.iterator.zip(osig.iterator).count { case (a, b) => a == b }
      val est = agree / k
      if (est >= tau) Some(Pair(math.min(id, oid), math.max(id, oid), est))
      else None
    }

  /** [[pairs]] with an EVENT-TIME DETECTION HORIZON — the unbounded-
    * stream form: bucket residents older than `horizonMs` behind the
    * watermark are pruned on every bucket visit, and idle buckets are
    * reaped by an event-time timeout (state.remove once everything in
    * them has expired). Without this, the bucket KEY space — not just
    * the per-bucket resident list the cap bounds — grows with the
    * stream's lifetime; with it, total state is bounded by the horizon's
    * arrival volume. A pair is emitted iff the earlier document is
    * still within the horizon when the later one arrives — the standard
    * "near-dup within a window" contract of log/feed dedup. */
  def pairsWindowed(docs: DataFrame, tau: Double, tsCol: String,
                    watermarkDelay: String, horizonMs: Long,
                    shingleLen: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
                    maxBucket: Int = 64, idCol: String = "doc_id",
                    textCol: String = "text"): Dataset[Pair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the WATERMARKED timestamp attribute itself must reach the grouped
    // Dataset (event-time timeout resolves it from the child plan), so
    // it rides as a Timestamp field and converts to millis in the state
    // function
    val banded = graft.ops.Dedup
      .minhashBands(docs.withWatermark(tsCol, watermarkDelay),
        idCol, textCol, shingleLen, bands, rowsPerBand, carry = Seq(tsCol))
      // sub-shingleLen docs carry a NULL signature; the batch path's
      // inner join drops the null key naturally, but groupByKey would
      // deliver it to the state function — filter explicitly
      .filter(col("sig").isNotNull)
      .select(col("band"), col("band_hash"), col("id"), col("sig"),
        col(tsCol)) // untouched: a cast/alias would strip the watermark tag
      .as[(Int, String, Long, Seq[Long], java.sql.Timestamp)]
    val k = (bands * rowsPerBand).toDouble
    banded
      .groupByKey { case (band, bh, _, _, _) => (band, bh) }
      .flatMapGroupsWithState[List[(Long, Seq[Long], Long)], Pair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: (Int, String),
         it: Iterator[(Int, String, Long, Seq[Long], java.sql.Timestamp)],
         state: GroupState[List[(Long, Seq[Long], Long)]]) =>
          val wm = state.getCurrentWatermarkMs()
          var seen = state.getOption.getOrElse(Nil)
            .filter(_._3 >= wm - horizonMs) // expired residents leave
          val out = scala.collection.mutable.ListBuffer.empty[Pair]
          it.foreach { case (_, _, id, sig, ts) =>
            if (!seen.exists(_._1 == id)) {
              val tsMs = ts.getTime
              // the horizon binds PAIRWISE, not just via the watermark:
              // two docs landing in one micro-batch (or under a lagging
              // watermark) must still be within horizonMs of each other
              out ++= scoreAgainst(id, sig,
                seen.iterator.filter(r => math.abs(tsMs - r._3) <= horizonMs)
                  .map(r => (r._1, r._2)), k, tau)
              seen = ((id, sig, tsMs) :: seen).take(maxBucket)
            }
          }
          if (seen.isEmpty) state.remove()
          else {
            state.update(seen)
            // reap the bucket when its newest resident ages out even if
            // no further arrivals ever visit this key
            state.setTimeoutTimestamp(
              math.max(seen.map(_._3).max + horizonMs, wm + 1))
          }
          out.iterator
      }
  }

  /** Exact cosine on the driver-decoded resident arrays — the state
    * functions' refine step (same fold as the batch kernels). */
  private def cosArr(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    val nn = math.sqrt(na) * math.sqrt(nb)
    if (nn > 0.0) d / nn else 0.0
  }

  /** [[semanticPairs]] with the EVENT-TIME DETECTION HORIZON of
    * [[pairsWindowed]]: cell residents older than `horizonMs` behind
    * the watermark are pruned on every cell visit, idle cells are
    * reaped by an event-time timeout, and the horizon binds PAIRWISE
    * (two vectors in one micro-batch — or under a lagging watermark —
    * must be within horizonMs of each other to pair). Both streaming
    * dedup paths (surface MinHash and semantic) therefore offer the
    * same time-scoped-state contract: total state is bounded by the
    * horizon's arrival volume, not the stream's lifetime. */
  def semanticPairsWindowed(vecs: DataFrame, centroids: Array[Double],
                            dim: Int, tau: Double, tsCol: String,
                            watermarkDelay: String, horizonMs: Long,
                            maxResidents: Int = 256, idCol: String = "vec_id",
                            vecCol: String = "embedding"): Dataset[Pair] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    // the watermarked timestamp attribute must reach the grouped
    // Dataset untouched (see pairsWindowed)
    val celled = graft.ops.SemDedup
      .assignCells(vecs.withWatermark(tsCol, watermarkDelay), centroids,
        dim, vecCol)
      .select(col("cell"), col(idCol).cast("long").as("id"),
        expr(s"transform($vecCol, x -> cast(x as double))").as("v"),
        col(tsCol))
      .as[(Int, Long, Seq[Double], java.sql.Timestamp)]
    celled
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[(Long, Array[Double], Long)], Pair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Int,
         it: Iterator[(Int, Long, Seq[Double], java.sql.Timestamp)],
         state: GroupState[List[(Long, Array[Double], Long)]]) =>
          val wm = state.getCurrentWatermarkMs()
          var seen = state.getOption.getOrElse(Nil)
            .filter(_._3 >= wm - horizonMs) // expired residents leave
          val out = scala.collection.mutable.ListBuffer.empty[Pair]
          it.foreach { case (_, id, vSeq, ts) =>
            if (!seen.exists(_._1 == id)) {
              val v = vSeq.toArray
              val tsMs = ts.getTime
              seen.foreach { case (oid, ov, ots) =>
                if (math.abs(tsMs - ots) <= horizonMs) {
                  val c = cosArr(v, ov)
                  if (c >= tau)
                    out += Pair(math.min(id, oid), math.max(id, oid), c)
                }
              }
              seen = ((id, v, tsMs) :: seen).take(maxResidents)
            }
          }
          if (seen.isEmpty) state.remove()
          else {
            state.update(seen)
            // reap the cell when its newest resident ages out even if
            // no further arrivals ever visit this key
            state.setTimeoutTimestamp(
              math.max(seen.map(_._3).max + horizonMs, wm + 1))
          }
          out.iterator
      }
  }

  /** Streaming SEMANTIC near-dup: the incremental profile of
    * [[graft.ops.SemDedup]]. Each arrival is cell-assigned by the
    * map-only [[graft.functions.expr.NearestCentroidCos]] kernel
    * (broadcast model, same as batch), then compared by exact cosine
    * against its cell's resident vectors held in
    * `flatMapGroupsWithState` — a paraphrase of a document from any
    * earlier micro-batch is caught on arrival. State per cell is capped
    * at `maxResidents` (oldest evicted): cells are corpus/k sized by
    * construction, and the cap bounds state the way `maxBucket` does
    * for the MinHash stream. Emits (id_a, id_b, cos) with id_a < id_b;
    * runs unchanged on the RocksDB state store at scale. */
  def semanticPairs(vecs: DataFrame, centroids: Array[Double], dim: Int,
                    tau: Double, maxResidents: Int = 256,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): Dataset[Pair] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val celled = graft.ops.SemDedup.assignCells(vecs, centroids, dim, vecCol)
      .select(col("cell"),
        col(idCol).cast("long").as("id"),
        expr(s"transform($vecCol, x -> cast(x as double))").as("v"))
      .as[(Int, Long, Seq[Double])]
    celled
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[(Long, Array[Double])], Pair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Int, it: Iterator[(Int, Long, Seq[Double])],
         state: GroupState[List[(Long, Array[Double])]]) =>
          var seen = state.getOption.getOrElse(Nil)
          val out = scala.collection.mutable.ListBuffer.empty[Pair]
          it.foreach { case (_, id, vSeq) =>
            if (!seen.exists(_._1 == id)) {
              val v = vSeq.toArray
              seen.foreach { case (oid, ov) =>
                val c = cosArr(v, ov)
                if (c >= tau)
                  out += Pair(math.min(id, oid), math.max(id, oid), c)
              }
              seen = ((id, v) :: seen).take(maxResidents)
            }
          }
          state.update(seen)
          out.iterator
      }
  }

  def pairs(docs: DataFrame, tau: Double, shingleLen: Int = 3,
            bands: Int = 8, rowsPerBand: Int = 4,
            maxBucket: Int = 64,
            idCol: String = "doc_id", textCol: String = "text"): Dataset[Pair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val banded = graft.ops.Dedup
      .minhashBands(docs, idCol, textCol, shingleLen, bands, rowsPerBand)
      .filter(col("sig").isNotNull) // see pairsWindowed: groupByKey keeps null keys
      .select(col("band"), col("band_hash"), col("id"), col("sig"))
      .as[(Int, String, Long, Seq[Long])]
    val k = (bands * rowsPerBand).toDouble
    banded
      .groupByKey { case (band, bh, _, _) => (band, bh) }
      .flatMapGroupsWithState[List[(Long, Seq[Long])], Pair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: (Int, String), it: Iterator[(Int, String, Long, Seq[Long])],
         state: GroupState[List[(Long, Seq[Long])]]) =>
          var seen = state.getOption.getOrElse(Nil)
          val out = scala.collection.mutable.ListBuffer.empty[Pair]
          it.foreach { case (_, _, id, sig) =>
            if (!seen.exists(_._1 == id)) {
              out ++= scoreAgainst(id, sig, seen.iterator, k, tau)
              seen = ((id, sig) :: seen).take(maxBucket)
            }
          }
          state.update(seen)
          out.iterator
      }
  }

  /** Streaming probe against a
    * [[graft.ops.Dedup.minhashBandsStored]] corpus store — the
    * streaming form of [[graft.ops.Dedup.minhashIncremental]]: each
    * micro-batch signs and bands itself map-only, then STREAM-STATIC
    * joins the stored (band, band_hash) rows. STATELESS — the corpus
    * is the static side, so nothing accumulates across batches and
    * per-batch cost tracks the batch, not the corpus (which is never
    * re-signed and never re-read beyond the joined buckets). Returns
    * (corpus_id, probe_id, jaccard_est); a pair sharing several bands
    * emits once per band (the append-mode contract of the sibling
    * streams — downstream consolidation collapses them). */
  def againstStore(docs: DataFrame, path: String, tau: Double,
                   shingleLen: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    graft.ops.Stores.requireStore(docs.sparkSession, path,
      "build it with minhashBandsStored")
    val stored = graft.ops.Stores.freshRead(docs.sparkSession, path)
      .select(col("band"), col("band_hash"),
        col("id").as("corpus_id"), col("sig").as("sig_a"))
    graft.ops.Dedup
      .minhashBands(docs, idCol, textCol, shingleLen, bands, rowsPerBand)
      .select(col("band"), col("band_hash"),
        col("id").as("probe_id"), col("sig").as("sig_b"))
      .join(stored, Seq("band", "band_hash"))
      .select(col("corpus_id"), col("probe_id"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) =>
          when(x === y, 1).otherwise(0)), v => v === 1))
          / size(col("sig_a")).cast("double")).as("jaccard_est"))
      .filter(col("jaccard_est") >= tau)
  }

  /** SELF-MAINTAINING streaming dedup corpus — [[againstStore]] plus the
    * [[graft.ops.Dedup.minhashStoreAppend]] fold-in, per micro-batch:
    *
    *  1. the batch is deduplicated against the store (cross pairs) AND
    *     against itself (keep-lowest-id: a doc is cut when it pairs at
    *     ≥ tau with a lower-id doc of the same batch — the rank-1-keeps
    *     rule at doc granularity; exact transitive clustering is
    *     [[graft.ops.Dedup.duplicateClusters]]' job, not a stream's);
    *  2. the SURVIVORS' signatures are appended to the store under the
    *     batch's tag — so Structured Streaming's at-least-once
    *     micro-batch replay meets the marker file and cannot
    *     double-sign ([[StoreLoop]]; the [[graft.sink.JdbcDeltaSink]]
    *     batch-stamp contract at file granularity);
    *  3. `onBatch(batchId, dupPairs, survivors)` hands both results to
    *     the caller (sink, metrics, quarantine) inside the same batch.
    *
    * Batch N+1 therefore dedups against corpus + every prior batch's
    * survivors, with per-batch cost tracking the batch (the store is
    * read, never re-signed). Seed the store first with
    * [[graft.ops.Dedup.minhashBandsStored]] (an empty corpus seeds an
    * empty store: the schema and `_SUCCESS` are what matter). Caller
    * starts the returned writer (`.start()` + checkpoint as usual). */
  def selfMaintaining(docs: DataFrame, path: String, tau: Double,
                      shingleLen: Int = 3, bands: Int = 8,
                      rowsPerBand: Int = 4, idCol: String = "doc_id",
                      textCol: String = "text")
                     (onBatch: (Long, DataFrame, DataFrame) => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    graft.ops.Stores.requireStore(docs.sparkSession, path,
      "seed it with minhashBandsStored")
    StoreLoop.writer(docs) { (batch, tag) =>
      val spark = batch.sparkSession
      // one signing pass per batch, reused by both joins and the append
      val sigs = graft.ops.Dedup
        .minhashBands(batch, idCol, textCol, shingleLen, bands, rowsPerBand)
        .persist()
      val stored = graft.ops.Stores.freshRead(spark, path)
        .select(col("band"), col("band_hash"),
          col("id").as("corpus_id"), col("sig").as("sig_a"))
      // the batch's OWN ids are excluded from the corpus side: under
      // at-least-once micro-batch replay, a re-executed batch whose
      // first attempt already appended its survivors would otherwise
      // "pair" with itself — the anti-join (pair-scale, after the
      // bucket join) makes every attempt compute the same result,
      // while the append's marker file makes the write land once
      val crossPairs = sigs
        .select(col("band"), col("band_hash"),
          col("id").as("probe_id"), col("sig").as("sig_b"))
        .join(stored.hint("shuffle_hash"), Seq("band", "band_hash"))
        .select(col("corpus_id"), col("probe_id"),
          (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) =>
            when(x === y, 1).otherwise(0)), v => v === 1))
            / size(col("sig_a")).cast("double")).as("jaccard_est"))
        .distinct()
        .filter(col("jaccard_est") >= tau)
        .join(sigs.select(col("id").as("corpus_id")).distinct(),
          Seq("corpus_id"), "left_anti")
        .persist()
      // within-batch: pairs with id_a < id_b; the id_b side is cut
      val innerCut = sigs.select(col("band"), col("band_hash"),
          col("id").as("id_a"), col("sig").as("sig_a"))
        .join(sigs.select(col("band"), col("band_hash"),
          col("id").as("id_b"), col("sig").as("sig_b")), Seq("band", "band_hash"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_b"),
          (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) =>
            when(x === y, 1).otherwise(0)), v => v === 1))
            / size(col("sig_a")).cast("double")).as("j"))
        .filter(col("j") >= tau)
        .select(col("id_b").as(idCol)).distinct()
      val dupOfStore = crossPairs.select(col("probe_id").as(idCol)).distinct()
      val survivors = batch
        .join(dupOfStore, Seq(idCol), "left_anti")
        .join(innerCut, Seq(idCol), "left_anti")
        .persist()
      // FORCE both results before the append: they read the store's
      // pre-batch file set, and lazy evaluation would otherwise let the
      // append land first — the batch would then "pair" with itself
      crossPairs.count(); survivors.count()
      graft.ops.Dedup.minhashStoreAppend(survivors, path,
        batchTag = tag, shingleLen, bands, rowsPerBand, idCol, textCol)
      (sigs, crossPairs, survivors)
    } { case (batchId, (sigs, crossPairs, survivors)) =>
      onBatch(batchId, crossPairs, survivors)
      sigs.unpersist(); crossPairs.unpersist(); survivors.unpersist()
      ()
    }
  }
}
