package graft

import graft.ops.{Quantiles, Stats}
import org.apache.spark.sql.Row

/** Live CDF-drift monitor: per-batch verdicts against the
  * strictly-before store state, and the replay-stability contract
  * (a batch never grades against itself). */
class KsDriftStreamSpec extends SparkTestBase {
  import spark.implicits._

  test("live loop: flat batch passes, shifted batch trips, verdicts see only the past") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val store = java.nio.file.Files.createTempDirectory("ksd_live")
      .toString + "/s"
    val ckpt = java.nio.file.Files.createTempDirectory("ksd_ck").toString
    val mem = MemoryStream[Long]
    val verdicts = scala.collection.mutable.Map.empty[Long, Option[Row]]
    val q = graft.streaming.KsDriftStream.selfMaintaining(
        mem.toDF().toDF("v"), store, "v", 2L, thrNum = 1L, thrDen = 2L) {
        (bid, v) => verdicts(bid) = v; ()
      }.option("checkpointLocation", ckpt).start()
    mem.addData(0L until 10L: _*) // batch 0: no reference yet
    q.processAllAvailable()
    mem.addData(0L until 10L: _*) // batch 1: same shape
    q.processAllAvailable()
    mem.addData(10L until 20L: _*) // batch 2: disjoint support
    q.processAllAvailable()
    q.stop()
    assert(verdicts(0L).isEmpty, "no store before batch 0 → no verdict")
    val v1 = verdicts(1L).get
    assert(v1.getAs[Long]("n_ref") === 10L)
    assert(v1.getAs[Double]("d") === 0.0)
    assert(!v1.getAs[Boolean]("drift"), "identical shape must pass")
    val v2 = verdicts(2L).get
    // reference = batches 0+1 (20 rows), NOT including batch 2 itself
    assert(v2.getAs[Long]("n_ref") === 20L)
    assert(v2.getAs[Double]("d") === 1.0)
    assert(v2.getAs[Boolean]("drift"), "disjoint support must trip")
  }

  test("batch-0 replay: a committed self-fold still reports None") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val store = java.nio.file.Files.createTempDirectory("ksd_b0")
      .toString + "/s"
    def runOnce(): Option[Row] = {
      // fresh checkpoint each time = the crash-before-checkpoint replay:
      // the stream re-delivers batch 0 against a store that already
      // holds batch 0's own committed fold
      val ckpt = java.nio.file.Files.createTempDirectory("ksd_b0ck").toString
      val mem = MemoryStream[Long]
      var verdict: Option[Row] = Some(null)
      val q = graft.streaming.KsDriftStream.selfMaintaining(
          mem.toDF().toDF("v"), store, "v", 2L, thrNum = 1L, thrDen = 2L) {
          (_, v) => verdict = v; ()
        }.option("checkpointLocation", ckpt).start()
      mem.addData(0L until 10L: _*)
      q.processAllAvailable()
      q.stop()
      verdict
    }
    assert(runOnce().isEmpty, "first evaluation of batch 0: no reference")
    assert(runOnce().isEmpty,
      "replayed batch 0 must see the same None — an n_ref=0 row would " +
        "break the bit-identical replay contract")
  }

  test("strictly-before read: a replayed batch never grades against itself") {
    val store = java.nio.file.Files.createTempDirectory("ksd_replay")
      .toString + "/s"
    def tag(i: Long) = graft.ops.Stores.batchTag(i)
    Quantiles.storeAppend((0L until 10L).toDF("v"), store, tag(0), "v", 2L)
    // batch 1 (shifted) ALREADY folded in — the crash-before-checkpoint
    // state a restart replays from
    Quantiles.storeAppend((10L until 20L).toDF("v"), store, tag(1), "v", 2L)
    val replay = Stats.ksDriftFromStoreBefore(spark, store, tag(1),
      (10L until 20L).toDF("v"), "v", 2L, 1L, 2L).collect().head
    assert(replay.getAs[Long]("n_ref") === 10L,
      "strictly-before cut must exclude the batch's own fold")
    assert(replay.getAs[Double]("d") === 1.0)
    assert(replay.getAs[Boolean]("drift"))
    // the merged read WOULD dilute the verdict (d = 0.5) — the hazard
    // the before-cut exists to remove
    val merged = Stats.ksDriftFromStore(spark, store,
      (10L until 20L).toDF("v"), "v", 2L, 1L, 2L).collect().head
    assert(merged.getAs[Double]("d") === 0.5)
  }
}
