package graft

import org.apache.spark.sql.functions._
import graft.ops.Quantiles

/** The fixed-bucket mergeable quantile summary: exact lower-empirical-
  * quantile rule, ±width resolution, additive merge, store replay
  * safety. */
class QuantilesSpec extends SparkTestBase {
  import spark.implicits._

  test("quantiles: hand-computed ranks on a known distribution") {
    // values 1..100, width 10: bucket b holds values [10b, 10b+9];
    // N=100, p50 target 50 → value 50 lives in bucket 5 (cum 59),
    // p90 target 90 → bucket 9 (cum 99... wait: bucket 9 = 90..99,
    // cum at bucket 9 = 99; bucket 10 = {100}, cum 100)
    val df = (1 to 100).map(_.toLong).toDF("v")
    val q = Quantiles.quantiles(Quantiles.histogram(df, "v", 10L),
        Seq(("p50", 1, 2), ("p90", 9, 10), ("p100", 1, 1)), 10L)
      .collect().map(r => r.getAs[String]("p_label") ->
        ((r.getAs[Long]("target"), r.getAs[Long]("bucket"),
          r.getAs[Long]("lo"), r.getAs[Long]("cum")))).toMap
    assert(q("p50") === ((50L, 5L, 50L, 59L)))
    assert(q("p90") === ((90L, 9L, 90L, 99L)))
    assert(q("p100") === ((100L, 10L, 100L, 100L)))
  }

  test("splitPoints: N-shard boundaries cut within one bucket of perfect balance") {
    // values 1..800, width 4: 8 shards of 100 — boundary i must sit at
    // the bucket whose cum first reaches i*100
    val df = (1 to 800).map(_.toLong).toDF("v")
    val sp = Quantiles.splitPoints(Quantiles.histogram(df, "v", 4L), 8, 4L)
      .collect().map(r => r.getAs[String]("p_label") ->
        ((r.getAs[Long]("target"), r.getAs[Long]("cum")))).toMap
    assert(sp.keySet === (1 to 7).map(i => f"s$i%04d").toSet)
    (1 to 7).foreach { i =>
      val (target, cum) = sp(f"s$i%04d")
      assert(target === i * 100L)
      assert(cum >= target && cum < target + 4,
        s"boundary $i: cum $cum must reach target $target within one bucket")
    }
  }

  test("trimmedMean: exact rank-overlap arithmetic on a hand fixture, outlier-immune") {
    // values 1..20 at width 1 (bucket lo = value): 10% trim each side
    // drops ranks 1,2 and 19,20 -> mean of 3..18 = 10.5
    val df = (1 to 20).map(_.toLong).toDF("v")
    val r = Quantiles.trimmedMean(Quantiles.histogram(df, "v", 1L), 1, 10, 1L)
      .collect().head
    assert(r.getAs[Long]("n") === 20L && r.getAs[Long]("k_trim") === 2L)
    assert(r.getAs[Long]("kept_n") === 16L)
    assert(r.getAs[Double]("trimmed_mean") === 10.5)
    // a planted extreme outlier moves the plain mean, not the trimmed one
    val dirty = ((1 to 20).map(_.toLong) :+ 1000000L).toDF("v")
    val t = Quantiles.trimmedMean(Quantiles.histogram(dirty, "v", 1L), 1, 10, 1L)
      .collect().head
    assert(t.getAs[Double]("trimmed_mean") < 12.0,
      "trimmed mean must shrug off the planted 1e6 outlier")
  }

  test("quantiles: answer is within one bucket width of the exact quantile") {
    val vals = (1 to 997).map(i => (i * 37L) % 1000L)
    val df = vals.toDF("v")
    val exact50 = vals.sorted.apply((vals.size + 1) / 2 - 1)
    val lo = Quantiles.quantiles(Quantiles.histogram(df, "v", 16L),
        Seq(("p50", 1, 2)), 16L)
      .select("lo").as[Long].head()
    assert(lo <= exact50 && exact50 < lo + 16L,
      s"exact p50 $exact50 outside [$lo, ${lo + 16})")
  }

  test("histogram merge is additive: slice sum equals one-shot") {
    val all = (1 to 500).map(i => (i % 97).toLong).toDF("v")
    val h0 = Quantiles.histogram(all.filter(col("v") % 2 === 0), "v", 8L)
    val h1 = Quantiles.histogram(all.filter(col("v") % 2 === 1), "v", 8L)
    val merged = h0.unionAll(h1).groupBy("bucket")
      .agg(sum(col("cnt")).cast("long").as("cnt"))
    val oneShot = Quantiles.histogram(all, "v", 8L)
    assert(merged.exceptAll(oneShot).isEmpty && oneShot.exceptAll(merged).isEmpty)
  }

  test("store: redelivered batch no-ops on its marker; merged answers equal one-shot") {
    val store = java.nio.file.Files.createTempDirectory("hist").toString + "/st"
    val b0 = (1 to 300).map(_.toLong).toDF("v")
    val b1 = (301 to 600).map(_.toLong).toDF("v")
    Quantiles.storeAppend(b0, store, "b0", "v", 10L)
    Quantiles.storeAppend(b1, store, "b1", "v", 10L)
    Quantiles.storeAppend(b1, store, "b1", "v", 10L) // redelivery
    val n = Quantiles.fromStore(spark, store).agg(sum("cnt")).as[Long].head()
    assert(n === 600L, "a replayed batch must not double-count")
    val merged = Quantiles.quantiles(Quantiles.fromStore(spark, store),
      Quantiles.StandardQs, 10L)
    val oneShot = Quantiles.quantiles(
      Quantiles.histogram((1 to 600).map(_.toLong).toDF("v"), "v", 10L),
      Quantiles.StandardQs, 10L)
    assert(merged.exceptAll(oneShot).isEmpty && oneShot.exceptAll(merged).isEmpty)
  }

  test("guards: bucketWidth and quantile rationals validated loudly") {
    val df = Seq(1L).toDF("v")
    assert(intercept[IllegalArgumentException] {
      Quantiles.histogram(df, "v", 0L)
    }.getMessage.contains("bucketWidth"))
    assert(intercept[IllegalArgumentException] {
      Quantiles.quantiles(Quantiles.histogram(df, "v", 1L),
        Seq(("bad", 3, 2)), 1L)
    }.getMessage.contains("num <= den"))
  }

  test("streaming twin: per-batch histograms converge to the one-shot distribution") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val store = java.nio.file.Files.createTempDirectory("hq_s").toString + "/st"
    val mem = MemoryStream[Long]
    val q = graft.streaming.StoreLoop.writer(mem.toDF().toDF("v"))(
        Quantiles.storeAppend(_, store, _, "v", 10L))((_, _) => ())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("hq_ck").toString)
      .start()
    try {
      mem.addData(1L to 300L); q.processAllAvailable()
      mem.addData(301L to 600L); q.processAllAvailable()
    } finally q.stop()
    val streamed = Quantiles.quantiles(Quantiles.fromStore(spark, store),
      Quantiles.StandardQs, 10L)
    val oneShot = Quantiles.quantiles(
      Quantiles.histogram((1L to 600L).toDF("v"), "v", 10L),
      Quantiles.StandardQs, 10L)
    assert(streamed.exceptAll(oneShot).isEmpty &&
      oneShot.exceptAll(streamed).isEmpty)
  }

  test("quantilesBy: per-group answers equal the global op run on each group alone") {
    val df = ((1 to 100).map(i => ("a", i.toLong)) ++
      (1 to 40).map(i => ("b", (i * 25).toLong))).toDF("g", "v")
    val grouped = Quantiles.quantilesBy(
        Quantiles.histogramBy(df, Seq("g"), "v", 10L),
        Seq("g"), Quantiles.StandardQs, 10L)
      .collect().map(r => (r.getAs[String]("g"), r.getAs[String]("p_label")) ->
        ((r.getAs[Long]("target"), r.getAs[Long]("bucket"),
          r.getAs[Long]("lo"), r.getAs[Long]("cum")))).toMap
    Seq("a", "b").foreach { g =>
      val solo = Quantiles.quantiles(
          Quantiles.histogram(df.filter(col("g") === g).select("v"), "v", 10L),
          Quantiles.StandardQs, 10L)
        .collect().map(r => r.getAs[String]("p_label") ->
          ((r.getAs[Long]("target"), r.getAs[Long]("bucket"),
            r.getAs[Long]("lo"), r.getAs[Long]("cum")))).toMap
      Quantiles.StandardQs.foreach { case (l, _, _) =>
        assert(grouped((g, l)) === solo(l), s"group $g quantile $l")
      }
    }
  }

  test("tukeyOutliers: hand fences catch the planted extremes; robust to the outliers themselves") {
    import org.apache.spark.sql.functions.col
    // group g: 0..99 plus two planted extremes (n = 102). Ranks are
    // ceil(q*102) over the sorted sequence [-200, 0..99, 500]: the
    // 26th/51st/77th values are 24/49/75 -> iqr 51, fences
    // [2*24-3*51, 2*75+3*51]/2 = [-52.5, 151.5]
    val vals = (0L to 99L).map(("g", _)) ++ Seq(("g", 500L), ("g", -200L))
    val r = Quantiles.tukeyOutliers(vals.toDF("grp", "v"), Seq("grp"),
      "v", bucketWidth = 1L).collect().head
    assert(r.getAs[Long]("n") === 102L)
    assert(r.getAs[Long]("p25") === 24L && r.getAs[Long]("p50") === 49L &&
      r.getAs[Long]("p75") === 75L && r.getAs[Long]("iqr") === 51L)
    assert(r.getAs[Long]("n_high") === 1L && r.getAs[Long]("n_low") === 1L,
      "exactly the two planted extremes sit outside the fences")
    // robustness: the fences barely move when the extremes get wilder
    // (a mean/sigma z-score threshold would chase them)
    val wild = (0L to 99L).map(("g", _)) ++ Seq(("g", 500000L), ("g", -200000L))
    val r2 = Quantiles.tukeyOutliers(wild.toDF("grp", "v"), Seq("grp"),
      "v", bucketWidth = 1L).collect().head
    assert(r2.getAs[Long]("p25") === 24L && r2.getAs[Long]("p75") === 75L,
      "quartiles must not move with outlier magnitude")
    assert(r2.getAs[Long]("n_high") === 1L && r2.getAs[Long]("n_low") === 1L)
  }

  test("grouped store: slice-merged fences equal one-shot tukeyOutliers; redelivery no-ops") {
    import org.apache.spark.sql.functions.col
    val store = java.nio.file.Files.createTempDirectory("hby").toString + "/st"
    val df = ((0L to 99L).map(("a", _)) ++ (0L to 49L).map(("b", _)) :+
      (("a", 900L))).toDF("grp", "v")
    val oneShot = Quantiles.tukeyOutliers(df, Seq("grp"), "v", 4L)
    (0 to 1).foreach { k =>
      Quantiles.storeAppendBy(df.filter(col("v") % 2 === k), store, s"b$k",
        Seq("grp"), "v", 4L)
    }
    Quantiles.storeAppendBy(df.filter(col("v") % 2 === 1), store, "b1",
      Seq("grp"), "v", 4L) // redelivery
    val stored = Quantiles.tukeyOutliersFromStore(df, store, Seq("grp"),
      "v", 4L)
    assert(stored.exceptAll(oneShot).isEmpty && oneShot.exceptAll(stored).isEmpty,
      "store-learned fences must reproduce the one-shot card exactly")
  }

  test("grouped streaming twin: live batches fold per source; fences flag a later batch's outlier") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val store = java.nio.file.Files.createTempDirectory("hby_s").toString + "/st"
    val mem = MemoryStream[(String, Long)]
    val flagged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = graft.streaming.StoreLoop.writer(mem.toDF().toDF("grp", "v")) {
        (batch, tag) =>
          Quantiles.storeAppendBy(batch, store, tag, Seq("grp"), "v", 4L)
          batch
      } {
        (_, batch) =>
          // flag THIS batch against fences learned from all-so-far
          val r = Quantiles.tukeyOutliersFromStore(batch, store,
            Seq("grp"), "v", 4L).collect().head
          flagged += ((r.getAs[Long]("n_low"), r.getAs[Long]("n_high")))
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("hby_ck").toString)
      .start()
    try {
      mem.addData((0L to 99L).map(("g", _)): _*); q.processAllAvailable()
      mem.addData(("g", 50L), ("g", 5000L)); q.processAllAvailable()
    } finally q.stop()
    assert(flagged.head === ((0L, 0L)), "the seed batch is fence-clean")
    assert(flagged(1) === ((0L, 1L)),
      s"the planted extreme must be flagged against learned fences: $flagged")
    // and the merged store equals the one-shot over everything
    val oneShot = Quantiles.tukeyOutliers(
      ((0L to 99L).map(("g", _)) ++ Seq(("g", 50L), ("g", 5000L)))
        .toDF("grp", "v"), Seq("grp"), "v", 4L)
    val stored = Quantiles.tukeyOutliersFromStore(
      ((0L to 99L).map(("g", _)) ++ Seq(("g", 50L), ("g", 5000L)))
        .toDF("grp", "v"), store, Seq("grp"), "v", 4L)
    assert(stored.exceptAll(oneShot).isEmpty && oneShot.exceptAll(stored).isEmpty)
  }

  test("histRank: bucket-resolution rank never undershoots exact; equal at bucket boundaries; store-mergeable shape") {
    import org.apache.spark.sql.functions.col
    // width 10 over 1..100: a row's hist rank = (its bucket's last
    // value's exact rank) -> >= exact everywhere, equal at multiples
    val df = (1L to 100L).map(("g", _)).toDF("grp", "v")
    val both = Quantiles.percentileRank(
        Quantiles.histRank(df, Seq("grp"), "v", 10L), Seq("grp"), "v",
        "exact_pct")
      .select(col("v"), col("hist_pct"), col("exact_pct"))
      .as[(Long, Double, Double)].collect()
    assert(both.forall { case (_, h, e) => h >= e },
      "hist rank is an upper rank")
    assert(both.forall { case (v, h, e) => v % 10 != 9 || h === e },
      "bucket-final rows (v = 9 mod 10: bucket b holds 10b..10b+9) rank exactly")
    assert(both.forall { case (_, h, e) => h - e < 0.1 + 1e-12 },
      "gap bounded by one bucket's mass share")
  }

  test("percentileRank: hand ranks, ties share the cumulative fraction, groups independent") {
    import org.apache.spark.sql.functions.col
    // group a: scores 1,2,2,5 -> ranks 0.25, 0.75, 0.75, 1.0
    // group b: single row -> rank 1.0 regardless of a's values
    val df = Seq(("a", 1L), ("a", 2L), ("a", 2L), ("a", 5L), ("b", 9L))
      .toDF("g", "s")
    val got = Quantiles.percentileRank(df, Seq("g"), "s")
      .collect().map(r => (r.getAs[String]("g"), r.getAs[Long]("s"),
        r.getAs[Double]("pct_rank"))).toSet
    assert(got === Set(("a", 1L, 0.25), ("a", 2L, 0.75), ("a", 2L, 0.75),
      ("a", 5L, 1.0), ("b", 9L, 1.0)))
    // calibration property: the same top-50% cut keeps the same COUNT
    // per group even when raw score scales differ 100x between groups
    val skew = (1 to 10).map(i => ("lo", i.toLong)) ++
      (1 to 10).map(i => ("hi", i * 100L))
    val kept = Quantiles.percentileRank(skew.toDF("g", "s"), Seq("g"), "s")
      .filter(col("pct_rank") > 0.5).groupBy("g").count()
      .collect().map(r => r.getAs[String]("g") -> r.getAs[Long]("count")).toMap
    assert(kept === Map("lo" -> 5L, "hi" -> 5L),
      "a rank cut must be equally selective per group; a raw-score cut would keep only 'hi'")
  }
}
