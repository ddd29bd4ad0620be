package graft

import graft.ops.Trend
import org.apache.spark.sql.functions.col

/** Per-group least-squares trend: closed-form exactness and the NULL
  * degenerate-denominator contract. */
class TrendSpec extends SparkTestBase {
  import spark.implicits._

  test("perfect line recovers slope/intercept exactly with r2 = 1") {
    val df = Seq(("g", 0L, 1L), ("g", 1L, 3L), ("g", 2L, 5L))
      .toDF("grp", "x", "y")
    val r = Trend.linearTrend(df, Seq("grp"), "x", "y").collect().head
    assert(r.getAs[Long]("n") === 3L)
    assert(r.getAs[Double]("slope") === 2.0)
    assert(r.getAs[Double]("intercept") === 1.0)
    assert(r.getAs[Double]("r2") === 1.0)
  }

  test("hand-computed noisy fit; groups are independent") {
    // (0,0),(1,2),(2,1): n=3 Σx=3 Σy=3 Σxy=4 Σx²=5 Σy²=5
    // slope=(12−9)/(15−9)=0.5, intercept=(3−0.5·3)/3=0.5,
    // r²=9/(6·6)=0.25
    val df = (Seq(("a", 0L, 0L), ("a", 1L, 2L), ("a", 2L, 1L)) ++
      Seq(("b", 0L, 5L), ("b", 1L, 5L), ("b", 2L, 5L))).toDF("grp", "x", "y")
    val m = Trend.linearTrend(df, Seq("grp"), "x", "y").collect()
      .map(r => r.getAs[String]("grp") -> r).toMap
    assert(m("a").getAs[Double]("slope") === 0.5)
    assert(m("a").getAs[Double]("intercept") === 0.5)
    assert(m("a").getAs[Double]("r2") === 0.25)
    // constant y: slope 0, r² NULL (zero y-variance), not NaN
    assert(m("b").getAs[Double]("slope") === 0.0)
    assert(m("b").isNullAt(m("b").fieldIndex("r2")))
  }

  test("degenerate x (all equal) reports NULL slope/intercept, never Inf") {
    val df = Seq(("g", 7L, 1L), ("g", 7L, 9L)).toDF("grp", "x", "y")
    val r = Trend.linearTrend(df, Seq("grp"), "x", "y").collect().head
    assert(r.isNullAt(r.fieldIndex("slope")))
    assert(r.isNullAt(r.fieldIndex("intercept")))
    assert(r.isNullAt(r.fieldIndex("r2")))
  }

  test("null x or y rows are excluded from the fit") {
    val df = Seq(("g", Some(0L), Some(1L)), ("g", Some(1L), Some(3L)),
      ("g", None, Some(9L)), ("g", Some(5L), None))
      .toDF("grp", "x", "y")
    val r = Trend.linearTrend(df, Seq("grp"), "x", "y").collect().head
    assert(r.getAs[Long]("n") === 2L && r.getAs[Double]("slope") === 2.0)
  }

  test("seasonalProfile: hand-computed means, peak ties to smallest position, exact amplitude") {
    // period 3: pos 0 -> {6, 2} mean 4.0; pos 1 -> {4} mean 4.0 (ties
    // peak to pos 0); pos 2 -> {1} mean 1.0; amplitude = 3.0
    val df = Seq(("g", 0L, 6L), ("g", 3L, 2L), ("g", 1L, 4L), ("g", 2L, 1L))
      .toDF("grp", "x", "y")
    val rows = Trend.seasonalProfile(df, Seq("grp"), "x", "y", period = 3)
      .orderBy("pos").collect()
    assert(rows.map(_.getAs[Long]("pos")).toSeq === Seq(0L, 1L, 2L))
    assert(rows.map(_.getAs[Double]("mean_y")).toSeq === Seq(4.0, 4.0, 1.0))
    assert(rows.map(_.getAs[Long]("n")).toSeq === Seq(2L, 1L, 1L))
    assert(rows.forall(_.getAs[Long]("peak_pos") === 0L),
      "equal means must tie-break the peak to the smallest position")
    assert(rows.forall(_.getAs[Double]("amplitude") === 3.0))
  }

  test("seasonalProfile: groups profile independently; negative x lands on pmod position") {
    val df = Seq(("a", 0L, 10L), ("a", 7L, 10L), ("a", 1L, 2L),
      ("b", -1L, 5L), ("b", 6L, 7L)) // -1 pmod 7 = 6 -> same position
      .toDF("grp", "x", "y")
    val m = Trend.seasonalProfile(df, Seq("grp"), "x", "y", period = 7)
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("pos")) ->
        ((r.getAs[Long]("n"), r.getAs[Double]("mean_y")))).toMap
    assert(m(("a", 0L)) === ((2L, 10.0)) && m(("a", 1L)) === ((1L, 2.0)))
    assert(m(("b", 6L)) === ((2L, 6.0)),
      "x = -1 must land on position 6, merged with x = 6")
    assert(!m.keySet.exists(_._2 < 0L), "positions are always in [0, period)")
  }

  test("seasonalProfile: period < 2 is rejected loudly") {
    val df = Seq(("g", 0L, 1L)).toDF("grp", "x", "y")
    intercept[IllegalArgumentException] {
      Trend.seasonalProfile(df, Seq("grp"), "x", "y", period = 1)
    }
  }

  test("seasonal store: slice-merged card equals one-shot bit-for-bit; redelivered batch no-ops") {
    val store = java.nio.file.Files.createTempDirectory("seas").toString + "/st"
    val df = Seq(("g", 0L, 6L), ("g", 3L, 2L), ("g", 1L, 4L), ("g", 2L, 1L),
      ("h", 0L, 9L), ("h", 4L, 3L)).toDF("grp", "x", "y")
    val oneShot = Trend.seasonalProfile(df, Seq("grp"), "x", "y", period = 3)
    Trend.seasonalStoreAppend(df.filter(col("x") % 2 === 0), store, "b0",
      Seq("grp"), "x", "y", period = 3)
    Trend.seasonalStoreAppend(df.filter(col("x") % 2 === 1), store, "b1",
      Seq("grp"), "x", "y", period = 3)
    val stored = Trend.seasonalFromStore(spark, store, Seq("grp"))
    assert(stored.exceptAll(oneShot).isEmpty && oneShot.exceptAll(stored).isEmpty,
      "sum-merged slices must reproduce the one-shot card exactly")
    // redelivery of b1 (same tag) must change nothing — the marker is
    // load-bearing for the non-idempotent sum merge
    Trend.seasonalStoreAppend(df.filter(col("x") % 2 === 1), store, "b1",
      Seq("grp"), "x", "y", period = 3)
    val replayed = Trend.seasonalFromStore(spark, store, Seq("grp"))
    assert(replayed.exceptAll(oneShot).isEmpty && oneShot.exceptAll(replayed).isEmpty)
  }

  test("seasonal streaming twin: two-batch live run equals the one-shot; peak can move") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val store = java.nio.file.Files.createTempDirectory("seass").toString + "/st"
    val mem = MemoryStream[(String, Long, Long)]
    val peaks = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = graft.streaming.StoreLoop.writer(mem.toDF().toDF("grp", "x", "y"))(
        Trend.seasonalStoreAppend(_, store, _, Seq("grp"), "x", "y", 3)) { (_, _) =>
        peaks += Trend.seasonalFromStore(spark, store, Seq("grp"))
          .collect().head.getAs[Long]("peak_pos")
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("seass_ck").toString)
      .start()
    try {
      mem.addData(Seq(("g", 0L, 10L), ("g", 1L, 1L))); q.processAllAvailable()
      // batch 1 floods position 1 — the maintained peak must MOVE
      mem.addData(Seq(("g", 1L, 50L), ("g", 4L, 40L))); q.processAllAvailable()
    } finally q.stop()
    assert(peaks.head === 0L && peaks(1) === 1L,
      s"peak must move from pos 0 to pos 1 as batch 1 folds in: $peaks")
    val oneShot = Trend.seasonalProfile(
      Seq(("g", 0L, 10L), ("g", 1L, 1L), ("g", 1L, 50L), ("g", 4L, 40L))
        .toDF("grp", "x", "y"), Seq("grp"), "x", "y", period = 3)
    val stored = Trend.seasonalFromStore(spark, store, Seq("grp"))
    assert(stored.exceptAll(oneShot).isEmpty && oneShot.exceptAll(stored).isEmpty,
      "live two-batch store must equal the one-shot over the union")
  }

  test("fanoFactor: constant series -> 0, planted burst inflates F, exact integers") {
    val flat = (0 until 10).map(p => ("g", p.toLong, 5L)).toDF("grp", "p", "c")
    val f0 = Trend.fanoFactor(flat, Seq("grp"), "c").collect().head
    assert(f0.getAs[Long]("fano_num") === 0L && f0.getAs[Double]("fano") === 0.0)
    // 9 periods of 5 + one of 50: n*sx2 - sx^2 = 10*(225+2500) - 95^2 = 18225
    val burst = ((0 until 9).map(p => ("g", p.toLong, 5L)) :+ ("g", 9L, 50L))
      .toDF("grp", "p", "c")
    val f1 = Trend.fanoFactor(burst, Seq("grp"), "c").collect().head
    assert(f1.getAs[Long]("fano_num") === 18225L &&
      f1.getAs[Long]("fano_den") === 950L)
    assert(f1.getAs[Double]("fano") > 15.0, "the burst must dominate F")
  }

  test("cusum: window closed form equals the textbook recurrence (hand fold, reset included)") {
    // series with a dip (forces the max(0,·) reset) then a slow drift
    val xs = Seq(3L, -5L, 1L, 1L, 1L, 1L, 1L, -2L, 4L, 4L)
    val df = xs.zipWithIndex.map { case (x, i) => ("g", i.toLong, x) }
      .toDF("grp", "period", "x")
    val got = Trend.cusum(df, Seq("grp"), "period", "x",
        allowance = 0L, threshold = 6L)
      .orderBy("period")
      .collect().map(r => (r.getAs[Long]("cusum"), r.getAs[Boolean]("alarm")))
    val want = xs.scanLeft(0L)((s, x) => math.max(0L, s + x)).tail
      .map(s => (s, s >= 6L))
    assert(got.toSeq === want,
      s"closed form diverged from the recurrence: got ${got.toSeq}, want $want")
    // the slow drift (ones) alarms even though no single period is big
    assert(got.exists(_._2), "persistent small drift must alarm")
  }

  test("live loop: DecayStream maintains the period store, cusumFromStore alarms mid-stream") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    val store = java.nio.file.Files.createTempDirectory("cusum_live").toString + "/s"
    val ckpt = java.nio.file.Files.createTempDirectory("cusum_ck").toString
    val mem = MemoryStream[(String, Long)]
    val alarmsAt = scala.collection.mutable.Map.empty[Long, Boolean]
    val q = graft.streaming.StoreLoop.writer(mem.toDF().toDF("g", "ts"))(
        graft.ops.Decay.storeAppend(_, store, _, Seq("g"), "ts", 10L)) { (bid, _) =>
        alarmsAt(bid) = graft.ops.Trend
          .cusumFromStore(spark, store, Seq("g"), allowance = 2L, threshold = 6L)
          .agg(max(when(col("alarm"), 1).otherwise(0))).head.getInt(0) == 1
        ()
      }.option("checkpointLocation", ckpt).start()
    // batch 0: in-control (2 per period)
    mem.addData((0 until 10).flatMap(p => Seq.fill(2)(("g", p.toLong * 10L))): _*)
    q.processAllAvailable()
    // batch 1: drifted (4 per period)
    mem.addData((10 until 16).flatMap(p => Seq.fill(4)(("g", p.toLong * 10L))): _*)
    q.processAllAvailable()
    q.stop()
    assert(alarmsAt(0L) === false, "in-control batch must not alarm")
    assert(alarmsAt(1L) === true, "the drifted batch must trip the monitor")
  }

  test("cusumFromStore: merged period store equals the one-shot series; planted drift alarms") {
    import org.apache.spark.sql.functions._
    val store = java.nio.file.Files.createTempDirectory("cusum_st").toString + "/s"
    // 20 periods of 2 events, then 10 periods of 4 — a level shift
    val rows = ((0 until 20).flatMap(p => Seq.fill(2)(("g", p.toLong * 10L))) ++
      (20 until 30).flatMap(p => Seq.fill(4)(("g", p.toLong * 10L))))
      .toDF("g", "ts")
    graft.ops.Decay.storeAppend(rows.filter(col("ts") % 20 === 0), store,
      "b0", Seq("g"), "ts", 10L)
    graft.ops.Decay.storeAppend(rows.filter(col("ts") % 20 =!= 0), store,
      "b1", Seq("g"), "ts", 10L)
    val out = Trend.cusumFromStore(spark, store, Seq("g"),
        allowance = 2L, threshold = 6L)
      .orderBy("period").collect()
    assert(out.length === 30)
    assert(!out.take(20).exists(_.getAs[Boolean]("alarm")),
      "in-control periods must not alarm")
    assert(out.drop(20).exists(_.getAs[Boolean]("alarm")),
      "the level shift must alarm within the drifted window")
  }
}
