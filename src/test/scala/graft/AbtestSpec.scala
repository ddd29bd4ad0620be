package graft

import graft.ops.Abtest

/** A/B readout: sticky hash assignment, the two-proportion z identity
  * on hand counts, planted effects detected, degenerate guards NULL. */
class AbtestSpec extends SparkTestBase {
  import spark.implicits._

  test("assignment is sticky per (unit, salt); unit converts if ANY row converts") {
    val df = Seq((1L, false), (1L, true), (2L, false), (2L, false))
      .toDF("u", "c")
    val r = Abtest.readout(df, Nil, "u", "c", "s1").collect().head
    // 2 units total, exactly 1 converted (unit 1 via its second row)
    assert(r.getAs[Long]("n_a") + r.getAs[Long]("n_b") === 2L)
    assert(r.getAs[Long]("conv_a") + r.getAs[Long]("conv_b") === 1L)
    // re-running with the same salt reproduces the identical split
    val r2 = Abtest.readout(df, Nil, "u", "c", "s1").collect().head
    assert(r.getAs[Long]("n_a") === r2.getAs[Long]("n_a") &&
      r.getAs[Long]("conv_a") === r2.getAs[Long]("conv_a"))
    // the salt is hashed exactly as given: a quote must not break the
    // query and a backslash escape must not be reinterpreted — each
    // unit's arm (read off a per-unit grouped readout) equals a
    // MessageDigest replay of md5(unit || salt)
    def armOf(u: Long, salt: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest((u.toString + salt).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(7), 16) % 2
    }
    val ids = (1L to 40L).map(u => (u, false)).toDF("u", "c")
    for (salt <- Seq("o'brien", "a\\tb")) {
      val perUnit = Abtest.readout(ids, Seq("u"), "u", "c", salt).collect()
      assert(perUnit.length === 40)
      perUnit.foreach { pu =>
        val u = pu.getAs[Long]("u")
        assert(pu.getAs[Long]("n_b") === armOf(u, salt),
          s"unit $u under salt <$salt>")
      }
    }
  }

  test("z identity on known counts; a planted large effect is significant") {
    // find a salt split, then plant conversions ONLY in arm B
    val units = (1L to 2000L).map(u => (u, false)).toDF("u", "c")
    val base = Abtest.readout(units, Nil, "u", "c", "sZ").collect().head
    val (nA, nB) = (base.getAs[Long]("n_a"), base.getAs[Long]("n_b"))
    assert(nA + nB === 2000L && nA > 800L && nB > 800L,
      s"hash split should be near-even: $nA/$nB")
    // plant: ~60% of B converts, ~10% of A converts -> huge z
    val planted = (1L to 2000L).map { u =>
      (u, u % 10 == 0) // deterministic sparse baseline everywhere
    }.toDF("u", "c")
    val eff = Abtest.readout(planted, Nil, "u",
      // conversion boosted in variant-1 units via the SAME hash the op uses
      "c OR (cast(conv(substring(md5(concat(cast(u as string), 'sZ')), 1, 7), 16, 10) as bigint) % 2 = 1 AND u % 2 = 0)",
      "sZ").collect().head
    val z = eff.getAs[Double]("z")
    assert(z > 5.0, s"a ~50-point lift must be significant: z = $z")
    // identity check against the hand formula
    val (na, ca, nb, cb) = (eff.getAs[Long]("n_a"), eff.getAs[Long]("conv_a"),
      eff.getAs[Long]("n_b"), eff.getAs[Long]("conv_b"))
    val (pa, pb) = (ca.toDouble / na, cb.toDouble / nb)
    val pp = (ca + cb).toDouble / (na + nb)
    val want = (pb - pa) / math.sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb))
    assert(math.abs(z - want) < 1e-12, s"z $z vs hand $want")
  }

  test("degenerate pooled rate (all or none convert) yields NULL z, never Inf/NaN") {
    val all = (1L to 100L).map((_, true)).toDF("u", "c")
    val none = (1L to 100L).map((_, false)).toDF("u", "c")
    assert(Abtest.readout(all, Nil, "u", "c", "s")
      .select("z").collect().head.isNullAt(0))
    assert(Abtest.readout(none, Nil, "u", "c", "s")
      .select("z").collect().head.isNullAt(0))
  }

  test("cuped: a perfect covariate removes all variance and all lift") {
    // x ≡ y: θ = cov(y,y)/var(y) = 1 exactly (integer rationals),
    // adjusted metric is constant → lift_cuped = 0, var_reduction = 1
    val df = (1L to 200L).map(u => (u, u % 37 * 10L)).toDF("u", "m")
      .selectExpr("u", "m as y", "m as x")
    val r = Abtest.cupedReadout(df, "u", "y", "x", "s").collect().head
    assert(r.getAs[Double]("theta") === 1.0)
    assert(r.getAs[Double]("lift_cuped") === 0.0)
    assert(r.getAs[Double]("var_reduction") === 1.0)
  }

  test("cuped: constant covariate degrades loudly to NULL, lift_raw intact") {
    val df = (1L to 100L).map(u => (u, u % 11, 5L)).toDF("u", "y", "x")
    val r = Abtest.cupedReadout(df, "u", "y", "x", "s").collect().head
    assert(r.isNullAt(r.fieldIndex("theta")))
    assert(r.isNullAt(r.fieldIndex("lift_cuped")))
    assert(!r.isNullAt(r.fieldIndex("lift_raw")))
  }

  test("cupedReadoutK: k=2 reduces to the two-arm card; perfect covariate " +
      "zeroes every arm's lift; store round-trip is bit-identical") {
    val df = (1L to 300L).map(u => (u, (u % 37) * 10L, (u % 23) * 7L))
      .toDF("u", "y", "x")
    val two = Abtest.cupedReadout(df, "u", "y", "x", "sK").collect().head
    val k2 = Abtest.cupedReadoutK(df, "u", "y", "x", "sK", k = 2)
      .orderBy("variant").collect()
    assert(k2(1).getAs[Double]("theta") === two.getAs[Double]("theta"))
    assert(k2(1).getAs[Double]("lift_raw") === two.getAs[Double]("lift_raw"))
    assert(k2(1).getAs[Double]("lift_cuped") ===
      two.getAs[Double]("lift_cuped"))
    assert(k2(1).getAs[Double]("var_reduction") ===
      two.getAs[Double]("var_reduction"))
    // control row: NULL lifts, pooled theta still shown
    assert(k2(0).isNullAt(k2(0).fieldIndex("lift_cuped")) &&
      !k2(0).isNullAt(k2(0).fieldIndex("theta")))
    // perfect covariate at k=3: every treatment arm's adjusted lift is
    // exactly zero, pooled rho^2 = 1
    val perfect = df.selectExpr("u", "y", "y as x")
    val k3 = Abtest.cupedReadoutK(perfect, "u", "y", "x", "sK", k = 3)
      .orderBy("variant").collect()
    (1 until 3).foreach { i =>
      assert(k3(i).getAs[Double]("lift_cuped") === 0.0)
      assert(k3(i).getAs[Double]("var_reduction") === 1.0)
    }
    // store round-trip: three unit-partitioned slices merge to the
    // one-shot card bit-for-bit (additivity)
    val store = java.nio.file.Files.createTempDirectory("cupedk")
      .toString + "/s"
    (0 to 2).foreach { i =>
      Abtest.momentsStoreAppend(df.filter($"u" % 3 === i), store, s"b$i",
        "u", "false", "y", "x", salt = "sK", k = 2)
    }
    val stored = Abtest.cupedKFromStore(spark, store, k = 2)
      .orderBy("variant").collect()
    assert(stored.map(_.toSeq).toSeq === k2.map(_.toSeq).toSeq,
      "merged store card must equal the one-shot bit-for-bit")
    spark.catalog.clearCache()
  }

  test("ratioReadout: delta-method identity against a Scala replay") {
    def variantOf(u: Long, salt: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest((u.toString + salt).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(7), 16) % 2
    }
    val units = (1L to 300L).map(u => (u, 1L + u % 9, (u % 23) * 7L))
    val df = units.toDF("u", "x", "y")
    val r = Abtest.ratioReadout(df, "u", "x", "y", "salt7").collect().head
    def armStats(v: Long) = {
      val rows = units.filter { case (u, _, _) => variantOf(u, "salt7") == v }
      val n = rows.size.toLong
      val sx = rows.map(_._2).sum; val sy = rows.map(_._3).sum
      val sxx = rows.map(t => BigInt(t._2) * t._2).sum
      val sxy = rows.map(t => BigInt(t._2) * t._3).sum
      val syy = rows.map(t => BigInt(t._3) * t._3).sum
      val rr = sy.toDouble / sx.toDouble
      def cm(sab: BigInt, sa: Long, sb: Long) =
        (BigInt(n) * sab - BigInt(sa) * BigInt(sb)).toDouble /
          (n.toDouble * (n - 1).toDouble)
      val xb = sx.toDouble / n.toDouble
      val v0 = (cm(syy, sy, sy) - 2.0 * rr * cm(sxy, sx, sy) +
        rr * rr * cm(sxx, sx, sx)) / (n.toDouble * xb * xb)
      (n, sx, sy, rr, v0)
    }
    val (na, sxa, sya, ra, va) = armStats(0)
    val (nb, _, _, rb, vb) = armStats(1)
    assert(r.getAs[Long]("n_a") === na)
    assert(r.getAs[Long]("sx_a") === sxa)
    assert(r.getAs[Long]("sy_a") === sya)
    assert(math.abs(r.getAs[Double]("diff") - (rb - ra)) < 1e-12)
    assert(math.abs(r.getAs[Double]("z") -
      (rb - ra) / math.sqrt(va + vb)) < 1e-12)
  }

  test("ratioReadout: zero-denominator arm and tiny arms degrade to NULL") {
    // every unit has x = 0 → sx = 0 on both arms
    val zeroX = (1L to 50L).map(u => (u, 0L, u)).toDF("u", "x", "y")
    val rz = Abtest.ratioReadout(zeroX, "u", "x", "y", "s").collect().head
    assert(rz.isNullAt(rz.fieldIndex("ratio_a")))
    assert(rz.isNullAt(rz.fieldIndex("z")))
    // a single unit cannot yield n >= 2 on both arms
    val one = Seq((1L, 2L, 3L)).toDF("u", "x", "y")
    val ro = Abtest.ratioReadout(one, "u", "x", "y", "s").collect().head
    assert(ro.isNullAt(ro.fieldIndex("z")))
  }

  test("wilsonCi: hand formula identity and containment") {
    val df = (1L to 400L).map(u => (u, u % 8 == 0)).toDF("u", "c")
    val r = Abtest.wilsonCi(df, "u", "c", "s").collect().head
    val (n, c) = (r.getAs[Long]("n_a"), r.getAs[Long]("conv_a"))
    val z = 1.959964; val p = c.toDouble / n
    val den = 1.0 + z * z / n
    val ctr = (p + z * z / (2.0 * n)) / den
    val half = z * math.sqrt(p * (1.0 - p) / n +
      z * z / (4.0 * n * n)) / den
    assert(math.abs(r.getAs[Double]("lo_a") - (ctr - half)) < 1e-12)
    assert(math.abs(r.getAs[Double]("hi_a") - (ctr + half)) < 1e-12)
    // Wilson stays inside [0, 1] even at extreme p — the Wald failure
    val allConv = (1L to 60L).map(u => (u, true)).toDF("u", "c")
    val re = Abtest.wilsonCi(allConv, "u", "c", "s").collect().head
    assert(re.getAs[Double]("hi_a") <= 1.0)
    assert(re.getAs[Double]("lo_a") > 0.0 && re.getAs[Double]("lo_a") < 1.0)
    // an A/A split of one population must overlap
    assert(r.getAs[Boolean]("overlap"))
  }

  test("stratifiedReadout: homogeneous strata reproduce the raw lift; fold identity") {
    // conversion depends only on the unit, not the stratum → the
    // post-stratified lift must be close to raw; verify the exact fold
    // identity against a recomputation from the emitted pieces is not
    // possible (pieces are folded), so pin: raw == post when strata
    // are copies of the SAME population proportions… instead verify
    // against an independent Scala replay of the same md5 assignment
    val units = (1L to 600L).map(u => (u, u % 7 == 0))
    val df = units.toDF("u", "c")
    val r = Abtest.stratifiedReadout(df, "u", "c", "concat('s', u % 3)",
      Seq("s0", "s1", "s2"), "s1").collect().head
    def variant(u: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest((u.toString + "s1").getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.map("%02x".format(_)).mkString.substring(0, 7), 16) % 2
    }
    val strata = Seq("s0", "s1", "s2")
    val by = strata.map { s =>
      val us = units.filter { case (u, _) => s"s${u % 3}" == s }
      val (a, b) = us.partition { case (u, _) => variant(u) == 0L }
      (a.size, a.count(_._2), b.size, b.count(_._2))
    }
    val n = by.map(t => t._1 + t._3).sum.toDouble
    val expPost = by.map { case (na, ca, nb, cb) =>
      (na + nb) / n * (cb.toDouble / nb - ca.toDouble / na) }.sum
    assert(math.abs(r.getAs[Double]("lift_post") - expPost) < 1e-12)
    assert(r.getAs[Long]("n_other") === 0L)
    assert(r.getAs[Long]("n_a") === by.map(_._1).sum.toLong)
    // a unit outside the named strata is excluded and counted
    val r2 = Abtest.stratifiedReadout(df, "u", "c", "concat('s', u % 4)",
      Seq("s0", "s1", "s2"), "s1").collect().head
    assert(r2.getAs[Long]("n_other") === units.count(_._1 % 4 == 3).toLong)
    // an empty named stratum nulls the post columns, not the raw ones
    val r3 = Abtest.stratifiedReadout(df, "u", "c", "concat('s', u % 3)",
      Seq("s0", "s1", "missing"), "s1").collect().head
    assert(r3.isNullAt(r3.fieldIndex("lift_post")))
    assert(!r3.isNullAt(r3.fieldIndex("lift_raw")))
  }

  test("quantileLift: per-arm exact bucketed quantiles and their difference") {
    // per-unit metric = unit id → each arm's quantiles are readable
    // off its own sorted id list; verify via an independent replay
    val units = (1L to 400L).map(u => (u, u))
    val df = units.toDF("u", "y")
    val qs = Seq(("p50", 1, 2), ("p90", 9, 10))
    val out = Abtest.quantileLift(df, "u", "y", "q1", 10L, qs)
      .collect().map(r => r.getAs[String]("p_label") -> r).toMap
    def variant(u: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest((u.toString + "q1").getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.map("%02x".format(_)).mkString.substring(0, 7), 16) % 2
    }
    val (aU, bU) = units.map(_._1).partition(variant(_) == 0L)
    def loAt(vs: Seq[Long], num: Int, den: Int): Long = {
      val buckets = vs.map(_ / 10L).sorted
      val target = (vs.size * num + den - 1) / den
      buckets(target - 1) * 10L
    }
    for ((lbl, num, den) <- qs) {
      assert(out(lbl).getAs[Long]("lo_a") === loAt(aU, num, den),
        s"$lbl arm A")
      assert(out(lbl).getAs[Long]("lo_b") === loAt(bU, num, den),
        s"$lbl arm B")
      assert(out(lbl).getAs[Long]("qte") ===
        loAt(bU, num, den) - loAt(aU, num, den))
    }
  }

  test("meanReadout: Welch identity against a Scala replay; store twin matches") {
    val units = (1L to 500L).map(u => (u, u % 13 * 10L))
    val df = units.toDF("u", "y")
    val r = Abtest.meanReadout(df, "u", "y", "w1").collect().head
    def variant(u: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest((u.toString + "w1").getBytes("UTF-8"))
      java.lang.Long.parseLong(
        md.map("%02x".format(_)).mkString.substring(0, 7), 16) % 2
    }
    val (aU, bU) = units.partition { case (u, _) => variant(u) == 0L }
    def stats(vs: Seq[Long]): (Int, Double, Double) = {
      val n = vs.size; val m = vs.sum.toDouble / n
      val v = vs.map(x => (x - m) * (x - m)).sum / (n - 1.0)
      (n, m, v)
    }
    val (na, ma, va) = stats(aU.map(_._2))
    val (nb, mb, vb) = stats(bU.map(_._2))
    assert(r.getAs[Long]("n_a") === na.toLong)
    assert(math.abs(r.getAs[Double]("lift") - (mb - ma)) < 1e-9)
    val (ua, ub) = (va / na, vb / nb)
    assert(math.abs(r.getAs[Double]("t_welch") -
      (mb - ma) / math.sqrt(ua + ub)) < 1e-9)
    assert(math.abs(r.getAs[Double]("df_welch") -
      (ua + ub) * (ua + ub) /
        (ua * ua / (na - 1.0) + ub * ub / (nb - 1.0))) < 1e-6)
    // constant metric: zero variance → NULL t/df, lift still reads
    val const = (1L to 100L).map(u => (u, 5L)).toDF("u", "y")
    val rc = Abtest.meanReadout(const, "u", "y", "w1").collect().head
    assert(rc.isNullAt(rc.fieldIndex("t_welch")))
    assert(rc.getAs[Double]("lift") === 0.0)
    // unit-disjoint store twin folds to the one-shot
    val store = java.nio.file.Files.createTempDirectory("ab_mean")
      .toString + "/s"
    import org.apache.spark.sql.functions.lit
    val rows = df.withColumn("c", lit(false)).withColumn("x", lit(0L))
    (0L to 2L).foreach { k =>
      Abtest.momentsStoreAppend(rows.filter($"u" % 3 === k), store,
        s"b$k", "u", "c", "y", "x", salt = "w1")
    }
    assert(Abtest.meanReadoutFromStore(spark, store).collect().head === r)
    assert(Abtest.meanReadoutFromStoreAsOf(spark, store, "b1")
      .collect().head ===
      Abtest.meanReadout(df.filter($"u" % 3 < 2), "u", "y", "w1")
        .collect().head)
  }

  test("experiment store: unit-disjoint batches reproduce both one-shot cards") {
    val store = java.nio.file.Files.createTempDirectory("ab_store")
      .toString + "/s"
    val rows = (1L to 300L)
      .map(u => (u, u % 9 == 0, u % 7 * 2L, u % 5 * 3L))
      .toDF("u", "c", "y", "x")
    // batches PARTITION the units — the store's additivity contract
    (0L to 2L).foreach { k =>
      Abtest.momentsStoreAppend(rows.filter($"u" % 3 === k), store,
        s"b$k", "u", "c", "y", "x", salt = "st1")
    }
    val oneShotR = Abtest.readout(rows, Nil, "u", "c", "st1")
      .collect().head
    assert(Abtest.readoutFromStore(spark, store).collect().head === oneShotR,
      "per-arm counts/conversions must ADD across unit-disjoint batches")
    val oneShotC = Abtest.cupedReadout(rows, "u", "y", "x", "st1")
      .collect().head
    assert(Abtest.cupedFromStore(spark, store).collect().head === oneShotC,
      "pooled moments must ADD — theta re-estimated at read time")
    // a redelivered batch tag is a no-op (marker-gated)
    Abtest.momentsStoreAppend(rows.filter($"u" % 3 === 1L), store, "b1",
      "u", "c", "y", "x", salt = "st1")
    assert(Abtest.readoutFromStore(spark, store).collect().head === oneShotR)
  }

  test("srmFromStore: the store-side guardrail equals the raw-scan check") {
    val store = java.nio.file.Files.createTempDirectory("ab_srm")
      .toString + "/s"
    val rows = (1L to 300L).map(u => (u, false, 0L, 0L))
      .toDF("u", "c", "y", "x")
    (0L to 2L).foreach { k =>
      Abtest.momentsStoreAppend(rows.filter($"u" % 3 === k), store,
        s"b$k", "u", "c", "y", "x", salt = "st1")
    }
    assert(Abtest.srmFromStore(spark, store).collect().head
      === Abtest.srmCheck(rows, "u", "st1").collect().head)
  }

  test("readoutTrace: each trace row equals the as-of read at that tag") {
    val store = java.nio.file.Files.createTempDirectory("ab_trace")
      .toString + "/s"
    val rows = (1L to 300L).map(u => (u, u % 9 == 0, 0L, 0L))
      .toDF("u", "c", "y", "x")
    (0L to 2L).foreach { k =>
      Abtest.momentsStoreAppend(rows.filter($"u" % 3 === k), store,
        s"b$k", "u", "c", "y", "x", salt = "st1")
    }
    val trace = Abtest.readoutTrace(spark, store).collect()
      .map(r => r.getAs[String]("tag") -> r).toMap
    assert(trace.size === 3)
    (0 to 2).foreach { k =>
      val asOf = Abtest.readoutFromStoreAsOf(spark, store, s"b$k")
        .collect().head
      val t = trace(s"b$k")
      assert(t.toSeq.drop(1) === asOf.toSeq,
        s"trace row b$k must equal the as-of read")
    }
  }

  test("experiment live loop: per-batch dashboard tracks the cumulative units") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val store = java.nio.file.Files.createTempDirectory("ab_live")
      .toString + "/s"
    val ckpt = java.nio.file.Files.createTempDirectory("ab_ck").toString
    val mem = MemoryStream[(Long, Boolean, Long, Long)]
    val reads = scala.collection.mutable.Map.empty[Long, org.apache.spark.sql.Row]
    val q = graft.streaming.StoreLoop.writer(mem.toDF().toDF("u", "c", "y", "x"))(
        Abtest.momentsStoreAppend(_, store, _, "u", "c", "y", "x", salt = "st2")) {
        (bid, _) => reads(bid) = Abtest.readoutFromStore(spark, store).collect().head
      }
      .option("checkpointLocation", ckpt).start()
    mem.addData((1L to 100L).map(u => (u, u % 4 == 0, u % 3, 0L)): _*)
    q.processAllAvailable()
    mem.addData((101L to 200L).map(u => (u, u % 4 == 0, u % 3, 0L)): _*)
    q.processAllAvailable()
    q.stop()
    assert(reads(0L).getAs[Long]("n_a") + reads(0L).getAs[Long]("n_b")
      === 100L)
    val oneShot = Abtest.readout(
      (1L to 200L).map(u => (u, u % 4 == 0)).toDF("u", "c"),
      Nil, "u", "c", "st2").collect().head
    assert(reads(1L) === oneShot, "live dashboard must equal the one-shot")
  }

  test("srmCheck: chi-square identity, rational verdict, unit dedup") {
    val df = (1L to 400L).flatMap(u => Seq(u, u)).toDF("u") // dup rows
    val r = Abtest.srmCheck(df, "u", "s1").collect().head
    assert(r.getAs[Long]("n_units") === 400L, "units counted once")
    val (na, nb) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
    assert(na + nb === 400L)
    assert(r.getAs[Long]("srm_num") === (na - nb) * (na - nb))
    assert(math.abs(r.getAs[Double]("srm_chi2") -
      ((na - nb) * (na - nb)).toDouble / 400.0) < 1e-12)
    // an honest md5 A/A split must not alarm at the 3.84 cut
    assert(!r.getAs[Boolean]("mismatch"))
    // thrNum = 0: any imbalance at all alarms — the verdict is the
    // integer compare, not a float
    val strict = Abtest.srmCheck(df, "u", "s1", thrNum = 0L, thrDen = 1L)
      .collect().head
    assert(strict.getAs[Boolean]("mismatch") === (na != nb))
  }

  test("permutationTest: exact fraction, add-one floor, NULL on empty-arm observed") {
    val df = (1L to 200L).map(u => (u, u % 10 == 0)).toDF("u", "c")
    val r = Abtest.permutationTest(df, "u", "c", "s1", rounds = 49)
      .collect().head
    assert(r.getAs[Long]("rounds") === 49L)
    assert(r.getAs[Long]("p_den") === 50L)
    val pNum = r.getAs[Long]("p_num")
    assert(pNum >= 1L && pNum <= 50L, "add-one form never reports p = 0")
    assert(r.getAs[Double]("p_value") === pNum.toDouble / 50.0)
    // deterministic: the whole null distribution is a function of
    // (unit ids, salt)
    val r2 = Abtest.permutationTest(df, "u", "c", "s1", rounds = 49)
      .collect().head
    assert(r === r2)
    // single unit: the observed assignment has an empty arm → NULL p,
    // and NULL p_num/p_den too (the fraction would count only
    // empty-arm permutations — a plausible-looking number meaning
    // nothing)
    val one = Seq((1L, true)).toDF("u", "c")
    val ro = Abtest.permutationTest(one, "u", "c", "s1", rounds = 9)
      .collect().head
    assert(ro.isNullAt(ro.fieldIndex("p_value")))
    assert(ro.isNullAt(ro.fieldIndex("p_num")))
    assert(ro.isNullAt(ro.fieldIndex("p_den")))
  }

  test("mdeMeanCard: constant metric degrades to NULL; more traffic shrinks the MDE") {
    val df = (1L to 300L).map(u => (u, u % 13 * 10L)).toDF("u", "y")
    val r = Abtest.mdeMeanCard(df, "u", "y", "s1").collect().head
    // identity with the hand formula over the emitted pieces
    val (na, nb) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
    val s2 = r.getAs[Double]("s2")
    val expected = (1.959964 + 0.841621) *
      math.sqrt(s2 * (1.0 / na + 1.0 / nb))
    assert(math.abs(r.getAs[Double]("mde_abs") - expected) < 1e-12)
    // 4× the units (fresh ids, same value distribution) → smaller MDE
    val big = (1L to 1200L).map(u => (u, u % 13 * 10L)).toDF("u", "y")
    val rb = Abtest.mdeMeanCard(big, "u", "y", "s1").collect().head
    assert(rb.getAs[Double]("mde_abs") < r.getAs[Double]("mde_abs"))
    // constant metric: zero variance, NULL (nothing to test)
    val const = (1L to 100L).map(u => (u, 7L)).toDF("u", "y")
    val rc = Abtest.mdeMeanCard(const, "u", "y", "s1").collect().head
    assert(math.abs(rc.getAs[Double]("s2")) === 0.0)
    assert(rc.isNullAt(rc.fieldIndex("mde_abs")))
  }

  test("experiment store as-of: a later batch cannot perturb the audited cards") {
    val store = java.nio.file.Files.createTempDirectory("ab_asof")
      .toString + "/s"
    val rows = (1L to 300L)
      .map(u => (u, u % 9 == 0, u % 7 * 2L, u % 5 * 3L))
      .toDF("u", "c", "y", "x")
    (0L to 2L).foreach { k =>
      Abtest.momentsStoreAppend(rows.filter($"u" % 3 === k), store,
        s"b$k", "u", "c", "y", "x", salt = "st1")
    }
    val slice01 = rows.filter($"u" % 3 < 2)
    assert(Abtest.readoutFromStoreAsOf(spark, store, "b1").collect().head
      === Abtest.readout(slice01, Nil, "u", "c", "st1").collect().head)
    assert(Abtest.cupedFromStoreAsOf(spark, store, "b1").collect().head
      === Abtest.cupedReadout(slice01, "u", "y", "x", "st1").collect().head)
  }

  test("meanReadoutTrace: each trace row equals the mean as-of read at that tag") {
    val store = java.nio.file.Files.createTempDirectory("ab_mtrace")
      .toString + "/s"
    val rows = (1L to 300L).map(u => (u, false, u % 13 * 10L, 0L))
      .toDF("u", "c", "y", "x")
    (0L to 2L).foreach { k =>
      Abtest.momentsStoreAppend(rows.filter($"u" % 3 === k), store,
        s"b$k", "u", "c", "y", "x", salt = "st1")
    }
    val trace = Abtest.meanReadoutTrace(spark, store).collect()
      .map(r => r.getAs[String]("tag") -> r).toMap
    assert(trace.size === 3)
    (0 to 2).foreach { k =>
      val asOf = Abtest.meanReadoutFromStoreAsOf(spark, store, s"b$k")
        .collect().head
      assert(trace(s"b$k").toSeq.drop(1) === asOf.toSeq,
        s"mean trace row b$k must equal the as-of Welch read")
    }
    // and the final row is the full one-shot Welch card
    assert(trace("b2").toSeq.drop(1) ===
      Abtest.meanReadout(rows, "u", "y", "st1").collect().head.toSeq)
  }

  test("srmTrace and cupedTrace: each trace row equals the as-of read at that tag") {
    val store = java.nio.file.Files.createTempDirectory("ab_strace")
      .toString + "/s"
    val rows = (1L to 300L)
      .map(u => (u, u % 9 == 0, u % 7 * 2L, u % 5 * 3L))
      .toDF("u", "c", "y", "x")
    (0L to 2L).foreach { k =>
      Abtest.momentsStoreAppend(rows.filter($"u" % 3 === k), store,
        s"b$k", "u", "c", "y", "x", salt = "st1")
    }
    val st = Abtest.srmTrace(spark, store).collect()
      .map(r => r.getAs[String]("tag") -> r).toMap
    val ct = Abtest.cupedTrace(spark, store).collect()
      .map(r => r.getAs[String]("tag") -> r).toMap
    assert(st.size === 3 && ct.size === 3)
    (0 to 2).foreach { k =>
      // SRM as-of = the one-shot check over the first k+1 slices
      val srmAsOf = Abtest.srmCheck(rows.filter($"u" % 3 <= k), "u", "st1")
        .collect().head
      assert(st(s"b$k").toSeq.drop(1) === srmAsOf.toSeq,
        s"srm trace row b$k must equal the sliced one-shot check")
      assert(ct(s"b$k").toSeq.drop(1) ===
        Abtest.cupedFromStoreAsOf(spark, store, s"b$k").collect().head.toSeq,
        s"cuped trace row b$k must equal the as-of read")
    }
    // and the final cuped row is the full one-shot card
    assert(ct("b2").toSeq.drop(1) ===
      Abtest.cupedReadout(rows, "u", "y", "x", "st1").collect().head.toSeq)
  }

  test("boundaryTrace: crossing at the spending boundary, not at naive z=1.96") {
    val store = java.nio.file.Files.createTempDirectory("ab_bound")
      .toString + "/s"
    // plant a moderate lift via the SAME hash the op uses: arm A
    // converts at ~10% (u%10), arm B boosted by u%14 (both moduli
    // coprime to the batch slicer 3, so per-slice rates hold). The
    // replayed trace is z = [2.906, 2.099, 2.046]: naive-significant
    // (> 1.96) at EVERY look, but crossing its O'Brien–Fleming bound
    // [3.471, 2.454, 2.004] only at the final one — the exact misread
    // the boundary exists to prevent.
    val vExpr = "cast(conv(substring(md5(concat(cast(u as string), " +
      "'sB')), 1, 7), 16, 10) as bigint) % 2"
    val conv = s"u % 10 = 0 OR (($vExpr) = 1 AND u % 14 = 0)"
    val rows = (1L to 900L).map(u => (u, false)).toDF("u", "c0")
    (0L to 2L).foreach { k =>
      Abtest.momentsStoreAppend(rows.filter($"u" % 3 === k), store,
        s"b$k", "u", conv, "0", "0", salt = "sB")
    }
    val t = Abtest.boundaryTrace(spark, store).orderBy("look").collect()
    assert(t.length === 3)
    val bounds = Abtest.ObrienFleming3
    t.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Long]("look") === i + 1L)
      assert(r.getAs[Double]("z_bound") === bounds(i))
      // crossed is exactly the displayed-z-vs-bound compare
      val z = r.getAs[Double]("z")
      assert(r.getAs[Boolean]("crossed") === (math.abs(z) >= bounds(i)))
    }
    // the fixture's point: every look is naive-significant, the first
    // two are NOT crossed, only the final look is
    t.foreach { r =>
      val z = r.getAs[Double]("z")
      assert(z > 1.96, s"every look must be naive-significant, z = $z")
    }
    assert(t.take(2).forall(r => !r.getAs[Boolean]("crossed") &&
      !r.getAs[Boolean]("stopped")),
      "the brutal early bounds must hold the first two looks")
    assert(t.last.getAs[Boolean]("crossed") &&
      t.last.getAs[Boolean]("stopped"),
      s"cumulative z ${t.last.getAs[Double]("z")} must cross 2.004")
    // stopped is monotone: once true, stays true
    val stops = t.map(_.getAs[Boolean]("stopped"))
    assert(stops.zip(stops.tail).forall { case (a, b) => !a || b })
    // an unplanned fourth look violates the schedule loudly
    Abtest.momentsStoreAppend(rows.filter($"u" % 3 === 0L), store,
      "b3", "u", conv, "0", "0", salt = "sB")
    intercept[Exception] {
      Abtest.boundaryTrace(spark, store).collect()
    }
  }

  test("boundaryTraceMean: crossed compares the displayed t; stopped is cumulative") {
    val store = java.nio.file.Files.createTempDirectory("ab_mbound")
      .toString + "/s"
    // plant a mean shift via the hash: variant-1 units earn +40
    val vExpr = "cast(conv(substring(md5(concat(cast(u as string), " +
      "'sM')), 1, 7), 16, 10) as bigint) % 2"
    val rows = (1L to 900L).map(u => (u, u % 13 * 10L)).toDF("u", "y0")
    (0L to 2L).foreach { k =>
      Abtest.momentsStoreAppend(rows.filter($"u" % 3 === k), store,
        s"b$k", "u", "false",
        s"y0 + (CASE WHEN ($vExpr) = 1 THEN 40 ELSE 0 END)", "0",
        salt = "sM")
    }
    val t = Abtest.boundaryTraceMean(spark, store).orderBy("look").collect()
    assert(t.length === 3)
    val trace = Abtest.meanReadoutTrace(spark, store)
      .orderBy("tag").collect()
    t.zip(trace).zipWithIndex.foreach { case ((b, m), i) =>
      // t is the 6-dp displayed Welch statistic from the trace
      val shown = BigDecimal(m.getAs[Double]("t_welch"))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(b.getAs[Double]("t") === shown)
      assert(b.getAs[Double]("t_bound") === Abtest.ObrienFleming3(i))
      assert(b.getAs[Boolean]("crossed") ===
        (math.abs(b.getAs[Double]("t")) >= Abtest.ObrienFleming3(i)))
    }
    // stopped is monotone
    val stops = t.map(_.getAs[Boolean]("stopped"))
    assert(stops.zip(stops.tail).forall { case (a, b) => !a || b })
    // a planted +40-cent shift on ~450 units/arm crosses by look 3
    assert(stops.last, s"t trace = ${t.map(_.getAs[Double]("t")).toSeq}")
  }

  test("quantileLift store: unit-disjoint batches reproduce the one-shot QTE; as-of audits") {
    val store = java.nio.file.Files.createTempDirectory("qte_store")
      .toString + "/s"
    val rows = (1L to 300L).map(u => (u, u % 23 * 100L)).toDF("u", "y")
    val qs = Seq(("p50", 1, 2), ("p90", 9, 10))
    (0L to 2L).foreach { k =>
      Abtest.quantileLiftStoreAppend(rows.filter($"u" % 3 === k), store,
        s"b$k", "u", "y", salt = "st1", bucketWidth = 50L)
    }
    val oneShot = Abtest.quantileLift(rows, "u", "y", "st1", 50L, qs)
      .orderBy("p_label").collect()
    assert(Abtest.quantileLiftFromStore(spark, store, 50L, qs)
      .orderBy("p_label").collect() === oneShot,
      "per-(arm, bucket) counts must ADD across unit-disjoint batches")
    // as-of the second batch = one-shot over the first two slices
    val slice01 = rows.filter($"u" % 3 < 2)
    assert(Abtest.quantileLiftFromStoreAsOf(spark, store, "b1", 50L, qs)
      .orderBy("p_label").collect() ===
      Abtest.quantileLift(slice01, "u", "y", "st1", 50L, qs)
        .orderBy("p_label").collect())
    // a redelivered batch tag is a no-op (marker-gated)
    Abtest.quantileLiftStoreAppend(rows.filter($"u" % 3 === 1L), store,
      "b1", "u", "y", salt = "st1", bucketWidth = 50L)
    assert(Abtest.quantileLiftFromStore(spark, store, 50L, qs)
      .orderBy("p_label").collect() === oneShot)
  }

  test("winsorizedMeanReadout: the cap is the exact bucketed quantile and it bites") {
    // 200 modest units + one whale; cap at p90 so the whale is capped
    val rows = ((1L to 200L).map(u => (u, u % 13 * 10L)) :+ (777L, 100000L))
      .toDF("u", "y")
    val r = Abtest.winsorizedMeanReadout(rows, "u", "y", "sW",
      bucketWidth = 10L, capNum = 9, capDen = 10).collect().head
    val cap = r.getAs[Long]("cap")
    // replay the ⌈q·N⌉ selection by hand: 201 values, target = ⌈0.9·201⌉
    val vals = ((1L to 200L).map(u => u % 13 * 10L) :+ 100000L)
      .map(_ / 10L).sorted // bucketized
    val target = (201 * 9 + 9) / 10
    assert(cap === vals(target - 1) * 10L, "cap = exact bucketed quantile")
    assert(cap < 100000L, "the whale must be above the cap")
    // winsorized total equals the hand-capped sum
    val handSum = ((1L to 200L).map(u => u % 13 * 10L) :+ 100000L)
      .map(math.min(_, cap)).sum
    assert(r.getAs[Long]("sy_a") + r.getAs[Long]("sy_b") === handSum)
    // and the whale's arm no longer dominates: winsorized |lift| is
    // below the raw card's
    val raw = Abtest.meanReadout(rows, "u", "y", "sW").collect().head
    assert(math.abs(r.getAs[Double]("lift"))
      < math.abs(raw.getAs[Double]("lift")))
  }

  test("srmCheckBy: per-segment cards equal per-slice ungrouped checks") {
    val rows = (1L to 400L).map(u => (u, u % 3)).toDF("u", "seg")
    val by = Abtest.srmCheckBy(rows, "seg", "u", "sS")
      .collect().map(r => r.getAs[Long]("segment") -> r).toMap
    assert(by.size === 3)
    (0L to 2L).foreach { g =>
      val solo = Abtest.srmCheck(rows.filter($"seg" === g), "u", "sS")
        .collect().head
      assert(by(g).toSeq.drop(1) === solo.toSeq,
        s"segment $g must equal the ungrouped check on its slice")
    }
  }

  test("readoutK: k=2 pair matches the 2-arm readout; empty arms still emit rows") {
    val df = (1L to 400L).map(u => (u, u % 11 == 0)).toDF("u", "c")
    // k = 2: arm 1's pair card must equal the classic A/B readout
    val k2 = Abtest.readoutK(df, "u", "c", "sK", k = 2)
      .orderBy("variant").collect()
    val ab = Abtest.readout(df, Nil, "u", "c", "sK").collect().head
    assert(k2(0).getAs[Long]("n") === ab.getAs[Long]("n_a"))
    assert(k2(1).getAs[Long]("n") === ab.getAs[Long]("n_b"))
    assert(k2(1).getAs[Double]("lift_vs_ctrl") === ab.getAs[Double]("lift"))
    assert(k2(1).getAs[Double]("z_vs_ctrl") === ab.getAs[Double]("z"))
    // control row carries NULL pair columns
    assert(k2(0).isNullAt(k2(0).fieldIndex("lift_vs_ctrl")))
    // k larger than the unit count: every arm still emits a row
    val tiny = Seq((1L, true), (2L, false)).toDF("u", "c")
    val k8 = Abtest.readoutK(tiny, "u", "c", "sK", k = 8)
      .orderBy("variant").collect()
    assert(k8.length === 8)
    assert(k8.map(_.getAs[Long]("n")).sum === 2L)
    k8.filter(_.getAs[Long]("n") === 0L).foreach { r =>
      assert(r.isNullAt(r.fieldIndex("rate")), "empty arm reads NULL rate")
    }
  }

  test("srmCheckK: chi-square identity; uniform passes, planted skew alarms") {
    val df = (1L to 4000L).map(u => (u, false)).toDF("u", "c")
    val r = Abtest.srmCheckK(df, "u", "sK", k = 4,
      thrNum = 781L, thrDen = 100L).collect().head
    val ns = (0 until 4).map(i => r.getAs[Long](s"n_$i"))
    val n = ns.sum
    assert(n === 4000L)
    val handNum = ns.map(x => { val d = 4L * x - n; d * d }).sum
    assert(r.getAs[Long]("chi2_num") === handNum)
    assert(r.getAs[Double]("srm_chi2") === handNum.toDouble / (4L * n))
    assert(!r.getAs[Boolean]("mismatch"),
      s"an honest md5 split must pass, chi2 = ${r.getAs[Double]("srm_chi2")}")
    // plant a skew: duplicate ids so one arm double-counts... instead
    // drop most of one arm's units via the hash itself
    val vExpr = "cast(conv(substring(md5(concat(cast(u as string), " +
      "'sK')), 1, 7), 16, 10) as bigint) % 4"
    val skewed = df.filter(
      org.apache.spark.sql.functions.expr(s"($vExpr) <> 2 OR u % 10 = 0"))
    val rs = Abtest.srmCheckK(skewed, "u", "sK", k = 4, 781L, 100L)
      .collect().head
    assert(rs.getAs[Boolean]("mismatch"),
      "an arm missing 90% of its units must alarm")
  }

  test("readoutK multiplicity: a z between the naive and Bonferroni cuts splits the verdicts") {
    // deterministic construction: compute each unit's arm with the
    // SAME md5 the op uses, then choose WHICH units convert so arm 1's
    // z lands strictly between 1.959964 (naive) and the k=3 Bonferroni
    // cut 2.241403 — sig_naive must fire, sig_adjusted must not.
    def arm(u: Long, salt: String, k: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$u$salt".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 7), 16) % k
    }
    val salt = "sMx"
    val units = (1L to 3000L).toVector
    val byArm = units.groupBy(u => arm(u, salt, 3))
    val (a0, a1, a2) = (byArm(0L), byArm(1L), byArm(2L))
    val c0 = a0.size / 10
    // mirror the card's double expression to FIND a c1 in the window
    def z(n0: Int, cc0: Int, n1: Int, cc1: Int): Double = {
      val r0 = cc0.toDouble / n0; val r1 = cc1.toDouble / n1
      val pp = (cc0 + cc1).toDouble / (n0 + n1)
      (r1 - r0) / math.sqrt(pp * (1.0 - pp) * (1.0 / n0 + 1.0 / n1))
    }
    val c1 = (c0 to a1.size).find(c =>
      z(a0.size, c0, a1.size, c) > 1.961 &&
        z(a0.size, c0, a1.size, c) < 2.24).getOrElse(
      fail(s"no c1 lands in the (naive, Bonferroni) window for " +
        s"n0=${a0.size}, n1=${a1.size}, c0=$c0"))
    val c2 = a2.size / 10 // ~control rate: nowhere near either cut
    val converted = (a0.take(c0) ++ a1.take(c1) ++ a2.take(c2)).toSet
    val df = units.map(u => (u, converted(u))).toDF("u", "c")
    val card = Abtest.readoutK(df, "u", "c", salt, k = 3)
      .orderBy("variant").collect()
    val r1 = card(1)
    assert(r1.getAs[Boolean]("sig_naive") === true,
      s"z=${r1.getAs[Double]("z_vs_ctrl")} crosses the per-pair cut")
    assert(r1.getAs[Boolean]("sig_adjusted") === false,
      s"z=${r1.getAs[Double]("z_vs_ctrl")} must NOT cross the k=3 " +
        s"family cut ${Abtest.BonferroniZ05(1)}")
    val r2 = card(2)
    assert(r2.getAs[Boolean]("sig_naive") === false &&
      r2.getAs[Boolean]("sig_adjusted") === false,
      "a control-rate arm crosses neither cut")
    // Holm: arm 1 is rank 1 (largest |z|), threshold Z(2) — same as
    // Bonferroni here, so it must NOT reject either
    assert(r1.getAs[Boolean]("sig_holm") === false,
      "rank-1 Holm threshold equals the Bonferroni cut")
    assert(r2.getAs[Boolean]("sig_holm") === false)
    // the control row reads NULL on all three verdicts (no pair)
    assert(card(0).isNullAt(card(0).fieldIndex("sig_naive")) &&
      card(0).isNullAt(card(0).fieldIndex("sig_adjusted")) &&
      card(0).isNullAt(card(0).fieldIndex("sig_holm")))

    // SECOND scenario — Holm's extra power: arm 2 decisively crosses
    // Z(2) (rank 1 rejects), so arm 1's rank-2 Holm threshold steps
    // down to the naive Z(1) cut and its in-between z now REJECTS
    // under Holm while staying non-significant under Bonferroni.
    val c2b = (a2.size / 2 to a2.size).find(c =>
        z(a0.size, c0, a2.size, c) > 3.5).getOrElse(
      fail("no c2 makes arm 2 decisive"))
    val converted2 = (a0.take(c0) ++ a1.take(c1) ++ a2.take(c2b)).toSet
    val df2 = units.map(u => (u, converted2(u))).toDF("u", "c")
    val card2 = Abtest.readoutK(df2, "u", "c", salt, k = 3)
      .orderBy("variant").collect()
    val s1 = card2(1); val s2 = card2(2)
    assert(s2.getAs[Boolean]("sig_adjusted") === true &&
      s2.getAs[Boolean]("sig_holm") === true,
      "the decisive arm rejects under both adjustments")
    assert(s1.getAs[Boolean]("sig_adjusted") === false &&
      s1.getAs[Boolean]("sig_holm") === true,
      s"z=${s1.getAs[Double]("z_vs_ctrl")}: Holm's step-down must " +
        "reject where single-step Bonferroni cannot")
  }

  test("experiment store k-guard: a reader expecting fewer arms dies loudly") {
    val store = java.nio.file.Files.createTempDirectory("karm_guard")
      .toString + "/s"
    val rows = (1L to 300L).map(u => (u, u % 7 == 0, 0L, 0L))
      .toDF("u", "c", "y", "x")
    Abtest.momentsStoreAppend(rows, store, "b0", "u", "c", "y", "x",
      salt = "sG", k = 3)
    // the matching-k readers work
    assert(Abtest.readoutKFromStore(spark, store, k = 3).count() === 3L)
    // a two-arm reader must raise, not render a plausible-wrong card
    val e = intercept[Exception] {
      Abtest.readoutFromStore(spark, store).collect()
    }
    assert(e.getMessage.contains("outside 0..1"),
      s"expected the variant-range guard, got: ${e.getMessage}")
    // a k=2 k-arm reader must raise too (axis would drop arm 2)
    val e2 = intercept[Exception] {
      Abtest.readoutKFromStore(spark, store, k = 2).collect()
    }
    assert(e2.getMessage.contains("outside 0..1"))
    // the traces carry the same two-arm guard
    val e3 = intercept[Exception] {
      Abtest.readoutTrace(spark, store).collect()
    }
    assert(e3.getMessage.contains("two-arm"))
    // and every other two-arm trace, its message naming the trace
    val unguarded = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "srmTrace" -> (() => Abtest.srmTrace(spark, store)),
      "cupedTrace" -> (() => Abtest.cupedTrace(spark, store)),
      "meanReadoutTrace" -> (() => Abtest.meanReadoutTrace(spark, store))
    ).flatMap { case (fn, tr) =>
      scala.util.Try(tr().collect().toSeq) match {
        case scala.util.Failure(ei) if ei.getMessage.contains("two-arm") &&
          ei.getMessage.contains(fn) => Nil
        case other => Seq(s"$fn: $other")
      }
    }
    assert(unguarded.isEmpty, unguarded.mkString("; "))
  }

  test("one-shot two-arm cards on empty input: zero counts, NULL statistics") {
    val empty = Seq.empty[(Long, Boolean, Long, Long)].toDF("u", "c", "y", "x")
    // card -> (columns reading 0, columns reading NULL, columns reading false)
    val cases = Seq[(String, org.apache.spark.sql.DataFrame,
        Seq[String], Seq[String], Seq[String])](
      ("readout", Abtest.readout(empty, Nil, "u", "c", "e"),
        Seq("n_a", "conv_a", "n_b", "conv_b"),
        Seq("rate_a", "rate_b", "lift", "z"), Nil),
      ("cupedReadout", Abtest.cupedReadout(empty, "u", "y", "x", "e"),
        Seq("n_a", "n_b", "sy_a", "sy_b"),
        Seq("theta", "lift_raw", "lift_cuped", "var_reduction"), Nil),
      ("mdeCard", Abtest.mdeCard(empty, "u", "c", "e"),
        Seq("n_a", "n_b", "conv_a", "conv_b"), Seq("p_pool", "mde_abs"), Nil),
      ("wilsonCi", Abtest.wilsonCi(empty, "u", "c", "e"),
        Seq("n_a", "conv_a", "n_b", "conv_b"),
        Seq("rate_a", "lo_a", "hi_a", "rate_b", "lo_b", "hi_b", "overlap"),
        Nil),
      ("mdeMeanCard", Abtest.mdeMeanCard(empty, "u", "y", "e"),
        Seq("n_a", "n_b", "sy"), Seq("s2", "mde_abs"), Nil),
      ("srmCheck", Abtest.srmCheck(empty, "u", "e"),
        Seq("n_units", "n_a", "n_b", "srm_num", "srm_den"), Seq("srm_chi2"),
        Seq("mismatch")),
      ("ratioReadout", Abtest.ratioReadout(empty, "u", "x", "y", "e"),
        Seq("n_a", "n_b", "sx_a", "sy_a", "sx_b", "sy_b"),
        Seq("ratio_a", "ratio_b", "diff", "z"), Nil),
      ("meanReadout", Abtest.meanReadout(empty, "u", "y", "e"),
        Seq("n_a", "n_b", "sy_a", "sy_b"),
        Seq("mean_a", "mean_b", "lift", "t_welch", "df_welch"), Nil))
    val wrong = cases.flatMap { case (card, df, zeros, nulls, falses) =>
      val rows = df.collect()
      assert(rows.length === 1, s"$card: one card row")
      val r = rows.head
      assert(r.schema.fieldNames.toSet === (zeros ++ nulls ++ falses).toSet,
        s"$card: every column is covered")
      def bad(cols: Seq[String], want: Any) = cols.collect {
        case c if r.get(r.fieldIndex(c)) != want =>
          s"$card.$c = ${r.get(r.fieldIndex(c))}, want $want"
      }
      bad(zeros, 0L) ++ bad(nulls, null) ++ bad(falses, false)
    }
    assert(wrong.isEmpty, wrong.mkString("; "))
  }

  test("boundaryTrace: mixed-width batch tags die loudly (look order = tag order)") {
    val store = java.nio.file.Files.createTempDirectory("bnd_guard")
      .toString + "/s"
    val rows = (1L to 200L).map(u => (u, u % 9 == 0, 0L, 0L))
      .toDF("u", "c", "y", "x")
    // 'b2' sorts AFTER 'b10' lexicographically — the silent-bound bug
    Abtest.momentsStoreAppend(rows.filter($"u" % 2 === 0), store, "b2",
      "u", "c", "y", "x", salt = "sW")
    Abtest.momentsStoreAppend(rows.filter($"u" % 2 === 1), store, "b10",
      "u", "c", "y", "x", salt = "sW")
    val e = intercept[Exception] {
      Abtest.boundaryTrace(spark, store).collect()
    }
    assert(e.getMessage.contains("fixed-width"),
      s"expected the tag-width guard, got: ${e.getMessage}")
    val e2 = intercept[Exception] {
      Abtest.boundaryTraceMean(spark, store).collect()
    }
    assert(e2.getMessage.contains("fixed-width"))
  }

  test("k-arm store: unit-disjoint batches reproduce the one-shot A/B/n cards") {
    val store = java.nio.file.Files.createTempDirectory("karm_store")
      .toString + "/s"
    val rows = (1L to 400L).map(u => (u, u % 11 == 0, 0L, 0L))
      .toDF("u", "c", "y", "x")
    (0L to 2L).foreach { g =>
      Abtest.momentsStoreAppend(rows.filter($"u" % 3 === g), store,
        s"b$g", "u", "c", "y", "x", salt = "sK", k = 4)
    }
    assert(Abtest.readoutKFromStore(spark, store, k = 4)
      .orderBy("variant").collect() ===
      Abtest.readoutK(rows, "u", "c", "sK", k = 4)
        .orderBy("variant").collect(),
      "per-arm counts must ADD across unit-disjoint batches, all k arms")
    assert(Abtest.srmKFromStore(spark, store, 4, 781L, 100L)
      .collect().head ===
      Abtest.srmCheckK(rows, "u", "sK", 4, 781L, 100L).collect().head)
  }

  test("streaming QTE twin: per-batch store equals the one-shot after each batch") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val store = java.nio.file.Files.createTempDirectory("qte_live")
      .toString + "/s"
    val ckpt = java.nio.file.Files.createTempDirectory("qte_ck").toString
    val mem = MemoryStream[(Long, Long)]
    // a pure store maintainer: the no-op onBatch runs no readout job
    val q = graft.streaming.StoreLoop.writer(mem.toDF().toDF("u", "y"))(
        Abtest.quantileLiftStoreAppend(_, store, _, "u", "y", salt = "st1",
          bucketWidth = 50L))((_, _) => ())
      .option("checkpointLocation", ckpt).start()
    try {
      val qs = Seq(("p50", 1, 2), ("p90", 9, 10))
      // batch 1: units 1..150; batch 2: 151..300 (unit-disjoint)
      mem.addData((1L to 150L).map(u => (u, u % 23 * 100L)): _*)
      q.processAllAvailable()
      val after1 = Abtest.quantileLiftFromStore(spark, store, 50L, qs)
        .orderBy("p_label").collect()
      val oneShot1 = Abtest.quantileLift(
        (1L to 150L).map(u => (u, u % 23 * 100L)).toDF("u", "y"),
        "u", "y", "st1", 50L, qs).orderBy("p_label").collect()
      assert(after1 === oneShot1)
      mem.addData((151L to 300L).map(u => (u, u % 23 * 100L)): _*)
      q.processAllAvailable()
      val after2 = Abtest.quantileLiftFromStore(spark, store, 50L, qs)
        .orderBy("p_label").collect()
      val oneShot2 = Abtest.quantileLift(
        (1L to 300L).map(u => (u, u % 23 * 100L)).toDF("u", "y"),
        "u", "y", "st1", 50L, qs).orderBy("p_label").collect()
      assert(after2 === oneShot2)
    } finally q.stop()
  }

  test("cuped: per-row contributions aggregate to unit grain first") {
    // two rows per unit sum to the same (y, x) as the one-row form
    val twoRow = (1L to 60L).flatMap(u =>
      Seq((u, u % 7, u % 5), (u, u % 7, u % 5))).toDF("u", "y", "x")
    val oneRow = (1L to 60L).map(u =>
      (u, 2L * (u % 7), 2L * (u % 5))).toDF("u", "y", "x")
    val a = Abtest.cupedReadout(twoRow, "u", "y", "x", "s").collect().head
    val b = Abtest.cupedReadout(oneRow, "u", "y", "x", "s").collect().head
    assert(a === b)
  }
}
