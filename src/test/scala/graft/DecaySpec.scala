package graft

import org.apache.spark.sql.functions._
import graft.ops.Decay

class DecaySpec extends SparkTestBase {
  import spark.implicits._

  // half-life 100 µs for arithmetic-visible fixtures
  private val HL = 100L

  test("weights are exact dyadic 2^-b per whole half-life") {
    // asOf 1000: ts 950 -> b 0..? period(950)=9, asOfPeriod=10 -> b=1
    val df = Seq(("a", 1000L), ("a", 950L), ("a", 800L), ("a", 99L))
      .toDF("g", "ts")
    val out = Decay.decayedCounts(df, Seq("g"), "ts", asOfUs = 1000L,
      halfLifeUs = HL, maxBuckets = 10).collect().head
    // periods: 10, 9, 8, 0 -> buckets 0, 1, 2, 10 -> scaled 2^10+2^9+2^8+2^0
    assert(out.getAs[Long]("n_events") === 4L)
    assert(out.getAs[Long]("decayed_scaled") === (1L << 10) + (1L << 9) + (1L << 8) + 1L)
    assert(out.getAs[Double]("decayed") === (1.0 + 0.5 + 0.25 + math.pow(2, -10)))
  }

  test("rows after asOf are excluded; older than maxBuckets weigh zero but still count") {
    val df = Seq(("a", 2000L), ("a", 1000L), ("a", -5000L)).toDF("g", "ts")
    val out = Decay.decayedCounts(df, Seq("g"), "ts", asOfUs = 1000L,
      halfLifeUs = HL, maxBuckets = 5).collect().head
    // 2000 excluded (future); -5000 -> period -50, b = 60 > 5 -> weight 0
    assert(out.getAs[Long]("n_events") === 2L)
    assert(out.getAs[Long]("decayed_scaled") === (1L << 5))
  }

  test("streaming twin: batches folded through the append store equal the batch answer, replay no-ops") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val store = java.nio.file.Files.createTempDirectory("decay_store").toString +
      "/s"
    val ckpt = java.nio.file.Files.createTempDirectory("decay_ckpt").toString
    val mem = MemoryStream[(String, Long)]
    val stream = mem.toDF().toDF("g", "ts")
    val q = graft.streaming.StoreLoop.writer(stream)(
        graft.ops.Decay.storeAppend(_, store, _, Seq("g"), "ts", HL))((_, _) => ())
      .option("checkpointLocation", ckpt).start()
    mem.addData(("a", 1000L), ("a", 950L), ("b", 10L))
    q.processAllAvailable()
    mem.addData(("a", 800L), ("b", 960L))
    q.processAllAvailable()
    q.stop()
    val all = Seq(("a", 1000L), ("a", 950L), ("b", 10L), ("a", 800L), ("b", 960L))
      .toDF("g", "ts")
    val fromStore = graft.ops.Decay
      .decayedFromStore(spark, store, Seq("g"), 1000L, HL)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("decayed_scaled")).toMap
    val oneShot = graft.ops.Decay.decayedCounts(all, Seq("g"), "ts", 1000L, HL)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("decayed_scaled")).toMap
    assert(fromStore === oneShot)
    // replayed batch tag must no-op (marker-gated exactly-once)
    graft.ops.Decay.storeAppend(Seq(("a", 1000L)).toDF("g", "ts"), store,
      graft.ops.Stores.batchTag(0L), Seq("g"), "ts", HL)
    val after = graft.ops.Decay
      .decayedFromStore(spark, store, Seq("g"), 1000L, HL)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("decayed_scaled")).toMap
    assert(after === oneShot, "redelivered batch must not double-count")
  }

  test("retraction: negated bucket rows heal the store to never-ingested") {
    val store = java.nio.file.Files.createTempDirectory("decay_rt").toString + "/s"
    val keep = Seq(("a", 900L), ("a", 950L)).toDF("g", "ts")
    val taken = Seq(("b", 960L), ("a", 990L)).toDF("g", "ts")
    graft.ops.Decay.storeAppend(keep, store, "b0", Seq("g"), "ts", HL)
    graft.ops.Decay.storeAppend(taken, store, "b1", Seq("g"), "ts", HL)
    graft.ops.Decay.storeRetract(taken, store, "b1", Seq("g"), "ts", HL)
    val got = graft.ops.Decay.decayedFromStore(spark, store, Seq("g"), 1000L, HL)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("decayed_scaled"))).toMap
    val want = graft.ops.Decay.decayedCounts(keep, Seq("g"), "ts", 1000L, HL)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("decayed_scaled"))).toMap
    assert(got === want, "fully-retracted group b must vanish; a must heal exactly")
    // retraction replay no-ops (marker-gated like any append)
    graft.ops.Decay.storeRetract(taken, store, "b1", Seq("g"), "ts", HL)
    val again = graft.ops.Decay.decayedFromStore(spark, store, Seq("g"), 1000L, HL)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("decayed_scaled"))).toMap
    assert(again === want)
  }

  test("as-of read is takedown-proof: the pre-retraction state stays auditable") {
    val store = java.nio.file.Files.createTempDirectory("decay_ao").toString + "/s"
    val b0 = Seq(("a", 900L)).toDF("g", "ts")
    val b1 = Seq(("a", 950L), ("b", 960L)).toDF("g", "ts")
    graft.ops.Decay.storeAppend(b0, store, "b0", Seq("g"), "ts", HL)
    graft.ops.Decay.storeAppend(b1, store, "b1", Seq("g"), "ts", HL)
    val preTakedown = graft.ops.Decay
      .decayedFromStore(spark, store, Seq("g"), 1000L, HL)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("decayed_scaled")).toMap
    graft.ops.Decay.storeRetract(b1, store, "b1", Seq("g"), "ts", HL)
    // current read: healed to b0-only
    val now = graft.ops.Decay.decayedFromStore(spark, store, Seq("g"), 1000L, HL)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("decayed_scaled")).toMap
    assert(!now.contains("b"))
    // as-of b1: the state any pre-retraction reader saw, intact
    val asOf = graft.ops.Decay
      .decayedFromStoreAsOf(spark, store, Seq("g"), 1000L, HL, asOfTag = "b1")
      .collect().map(r => r.getString(0) -> r.getAs[Long]("decayed_scaled")).toMap
    assert(asOf === preTakedown)
    // as-of b0: before b1 ever landed
    val asOf0 = graft.ops.Decay
      .decayedFromStoreAsOf(spark, store, Seq("g"), 1000L, HL, asOfTag = "b0")
      .collect().map(r => r.getString(0) -> r.getAs[Long]("decayed_scaled")).toMap
    assert(asOf0.keySet === Set("a"))
    assert(asOf0("a") !== preTakedown("a"))
  }

  test("compaction preserves the decayed report (store lifecycle interop)") {
    val store = java.nio.file.Files.createTempDirectory("decay_cp").toString + "/s"
    (0 until 6).foreach { i =>
      graft.ops.Decay.storeAppend(
        Seq(("a", 900L + i), ("b", 800L + i)).toDF("g", "ts"),
        store, f"b$i%03d", Seq("g"), "ts", HL)
    }
    val before = graft.ops.Decay.decayedFromStore(spark, store, Seq("g"), 1000L, HL)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("decayed_scaled")).toMap
    val files = graft.ops.Stores.compact(spark, store)
    assert(files >= 1)
    val after = graft.ops.Decay.decayedFromStore(spark, store, Seq("g"), 1000L, HL)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("decayed_scaled")).toMap
    assert(after === before, "compaction must not change the report")
    // a replayed pre-compaction batch still no-ops (markers preserved)
    graft.ops.Decay.storeAppend(Seq(("a", 900L)).toDF("g", "ts"), store,
      "b000", Seq("g"), "ts", HL)
    val replay = graft.ops.Decay.decayedFromStore(spark, store, Seq("g"), 1000L, HL)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("decayed_scaled")).toMap
    assert(replay === before)
  }

  test("bucket store is additive: split batches fold to the one-shot answer") {
    val all = (0 until 64).map(i => ("g", i.toLong * 37L)).toDF("g", "ts")
    val (b1, b2) = (all.filter(col("ts") % 2 === 0), all.filter(col("ts") % 2 =!= 0))
    val merged = Decay.decayedBuckets(b1, Seq("g"), "ts", HL)
      .unionAll(Decay.decayedBuckets(b2, Seq("g"), "ts", HL))
      .groupBy("g", "period").agg(sum("cnt").cast("long").as("cnt"))
    val fromStore = Decay.decayedFromBuckets(merged, Seq("g"), 5000L, HL)
      .collect().head
    val oneShot = Decay.decayedCounts(all, Seq("g"), "ts", 5000L, HL)
      .collect().head
    assert(fromStore.getAs[Long]("decayed_scaled") ===
      oneShot.getAs[Long]("decayed_scaled"))
    assert(fromStore.getAs[Long]("n_events") === oneShot.getAs[Long]("n_events"))
  }
}
