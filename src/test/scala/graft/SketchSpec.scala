package graft

import org.apache.spark.sql.functions._
import graft.ops.{Hll, Cms}

/** The relational sketches: HLL register tables (cardinality) and
  * Count-Min cell tables (point frequency). Pins the algebra each
  * store lifecycle depends on — HLL's max-merge is idempotent (a
  * double-posted batch is a no-op before any marker matters), CMS's
  * sum-merge is additive-but-not-idempotent (the marker is
  * load-bearing) — plus the estimator guarantees (HLL within the
  * published error at known cardinality; CMS never under-estimates).
  */
class SketchSpec extends SparkTestBase {
  import spark.implicits._

  private val M = 256

  // 5000 known-distinct values, each duplicated 3× (duplicates must not
  // move any register — rho is a pure function of the value)
  private def known = (1 to 5000).flatMap(i => Seq.fill(3)(s"val$i"))
    .toDF("v")

  test("hll: registers are bounded by m, rho within the rank width") {
    val regs = Hll.registers(known, Nil, "v", M)
    assert(regs.count() <= M)
    val (lo, hi) = regs.agg(min("rho"), max("rho")).as[(Long, Long)].head()
    assert(lo >= 1L && hi <= Hll.rankBits(M) + 1)
  }

  test("hll: a BIGINT column hashes as its string rendering") {
    val ids = (1L to 3000L).toDF("v")
    def regs(df: org.apache.spark.sql.DataFrame) =
      Hll.registers(df, Nil, "v", M).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val asLong = regs(ids)
    assert(asLong.nonEmpty)
    assert(asLong === regs(ids.select(col("v").cast("string").as("v"))))
  }

  test("hll: estimate within published error at known cardinality") {
    val est = Hll.estimate(Hll.registers(known, Nil, "v", M), Nil, M)
      .select("est").as[Double].head()
    // 1.04/sqrt(256) = 6.5% std error; allow 3 sigma
    assert(math.abs(est - 5000.0) / 5000.0 < 0.20, s"est $est")
  }

  test("hll: duplicates do not move registers; merge of slices equals one-shot; merge is idempotent") {
    val distinct = (1 to 5000).map(i => s"val$i").toDF("v")
    val full = Hll.registers(distinct, Nil, "v", M)
    val dup = Hll.registers(known, Nil, "v", M)
    assert(dup.exceptAll(full).isEmpty && full.exceptAll(dup).isEmpty)
    // slice by hash parity, sketch each, union → max-merge ≡ one-shot
    val s0 = Hll.registers(distinct.filter(length(col("v")) % 2 === 0), Nil, "v", M)
    val s1 = Hll.registers(distinct.filter(length(col("v")) % 2 === 1), Nil, "v", M)
    val merged = Hll.estimate(s0.unionAll(s1).unionAll(s1), Nil, M) // s1 twice!
    val oneShot = Hll.estimate(full, Nil, M)
    assert(merged.exceptAll(oneShot).isEmpty && oneShot.exceptAll(merged).isEmpty,
      "max-merge over slices (with one slice double-posted) must equal the one-shot")
  }

  test("hll: grouped registers estimate per group independently") {
    // both groups sit WELL above the 3m small-range boundary (m = 256)
    // — the documented regime of the raw estimator; below ~3m callers
    // are told to count exactly (see the Hll class doc)
    val df = (1 to 6000).map(i => ("a", s"x$i")) ++
      (1 to 1500).map(i => ("b", s"y$i"))
    val est = Hll.estimate(
        Hll.registers(df.toDF("g", "v"), Seq("g"), "v", M), Seq("g"), M)
      .select("g", "est").as[(String, Double)].collect().toMap
    assert(math.abs(est("a") - 6000) / 6000.0 < 0.20, s"a ${est("a")}")
    assert(math.abs(est("b") - 1500) / 1500.0 < 0.25, s"b ${est("b")}")
  }

  test("hll overlap: identical groups give exact union=a=b, jaccard exactly 1") {
    val df = ((1 to 4000).map(i => ("a", s"v$i")) ++
      (1 to 4000).map(i => ("b", s"v$i"))).toDF("g", "v")
    val row = Hll.pairOverlap(Hll.registers(df, Seq("g"), "v", M), "g", M)
      .select("est_a", "est_b", "est_union", "est_intersect", "jaccard_est")
      .as[(Double, Double, Double, Double, Double)].head()
    // identical value sets -> identical register tables -> the union
    // sketch IS each side's sketch: exact equality, not a tolerance
    assert(row._1 === row._2 && row._2 === row._3)
    // (a+a)-a is exact in IEEE (doubling is exact), so intersect == a
    assert(row._4 === row._1)
    assert(row._5 === 1.0)
  }

  test("hll overlap: disjoint groups estimate a near-zero intersection") {
    val df = ((1 to 5000).map(i => ("a", s"x$i")) ++
      (1 to 5000).map(i => ("b", s"y$i"))).toDF("g", "v")
    val row = Hll.pairOverlap(Hll.registers(df, Seq("g"), "v", M), "g", M)
      .select("est_union", "est_intersect").as[(Double, Double)].head()
    // union of two disjoint 5k sets: within 3 sigma of 10k; the
    // intersection estimate compounds both errors — allow a wide band
    // around zero (and accept the honest negative)
    assert(math.abs(row._1 - 10000.0) / 10000.0 < 0.20, s"union ${row._1}")
    assert(math.abs(row._2) < 3000.0, s"intersect ${row._2}")
  }

  test("hll overlap: 50% overlap estimated within the compounded error band") {
    val df = ((1 to 6000).map(i => ("a", s"v$i")) ++
      (3001 to 9000).map(i => ("b", s"v$i"))).toDF("g", "v")
    val row = Hll.pairOverlap(Hll.registers(df, Seq("g"), "v", M), "g", M)
      .select("est_union", "est_intersect", "jaccard_est")
      .as[(Double, Double, Double)].head()
    assert(math.abs(row._1 - 9000.0) / 9000.0 < 0.20, s"union ${row._1}")
    assert(math.abs(row._2 - 3000.0) / 3000.0 < 0.60, s"intersect ${row._2}")
    // true jaccard = 3000/9000 = 1/3
    assert(row._3 > 0.15 && row._3 < 0.55, s"jaccard ${row._3}")
  }

  test("hll overlap: the pair union sketch is bit-identical to sketching the concatenation") {
    val a = (1 to 4000).map(i => ("a", s"v$i"))
    val b = (2001 to 7000).map(i => ("b", s"v$i"))
    val regs = Hll.registers((a ++ b).toDF("g", "v"), Seq("g"), "v", M)
    val estU = Hll.pairOverlap(regs, "g", M).select("est_union").as[Double].head()
    val oneShot = Hll.estimate(
      Hll.registers((a ++ b).map(_._2).toDF("v"), Nil, "v", M), Nil, M)
      .select("est").as[Double].head()
    assert(estU === oneShot,
      "max-merged pair registers must BE the union's sketch")
  }

  test("cms innerProduct: never under-estimates the join size; exact when collision-free") {
    // collision-free regime: 20 values into width 4096 — est must equal
    // the true inner product exactly
    val a = (1 to 20).flatMap(i => Seq.fill(i)(s"k$i")).toDF("v")   // fA(ki)=i
    val b = (1 to 20).flatMap(i => Seq.fill(21 - i)(s"k$i")).toDF("v") // fB(ki)=21-i
    val truth = (1 to 20).map(i => i.toLong * (21 - i)).sum
    val estWide = Cms.innerProduct(
      Cms.build(a, "v", 4, 4096), Cms.build(b, "v", 4, 4096), 4)
      .select(col("est").cast("long")).as[Long].head()
    assert(estWide === truth, s"collision-free estimate must be exact: $estWide vs $truth")
    // crowded regime: est may exceed but NEVER undershoot
    val estNarrow = Cms.innerProduct(
      Cms.build(a, "v", 4, 8), Cms.build(b, "v", 4, 8), 4)
      .select(col("est").cast("long")).as[Long].head()
    assert(estNarrow >= truth, s"inner product under-estimated: $estNarrow < $truth")
  }

  test("cms innerProduct: disjoint key sets estimate 0 when hash rows miss; self-product is F2") {
    val a = (1 to 10).map(i => s"x$i").toDF("v")
    val f2 = Cms.innerProduct(
      Cms.build(a, "v", 4, 4096), Cms.build(a, "v", 4, 4096), 4)
      .select(col("est").cast("long")).as[Long].head()
    assert(f2 === 10L, "self inner product of a flat distribution is n (F2)")
  }

  test("hll store: append lifecycle replays as a no-op (marker + idempotent algebra)") {
    val store = java.nio.file.Files.createTempDirectory("hll").toString + "/st"
    val b0 = (1 to 1000).map(i => s"v$i").toDF("v")
    val b1 = (500 to 1500).map(i => s"v$i").toDF("v")
    Hll.registerStoreAppend(b0, store, "b0", Nil, "v", M)
    Hll.registerStoreAppend(b1, store, "b1", Nil, "v", M)
    val est1 = Hll.estimateFromStore(spark, store, Nil, M)
      .select("est").as[Double].head()
    // redelivery of b1 (same tag) must change nothing
    Hll.registerStoreAppend(b1, store, "b1", Nil, "v", M)
    val est2 = Hll.estimateFromStore(spark, store, Nil, M)
      .select("est").as[Double].head()
    assert(est1 === est2)
    // and the merged estimate equals the one-shot over the union
    val oneShot = Hll.estimate(
      Hll.registers((1 to 1500).map(i => s"v$i").toDF("v"), Nil, "v", M),
      Nil, M).select("est").as[Double].head()
    assert(est1 === oneShot)
  }

  test("hll/cms as-of reads: a later batch cannot perturb the audited sketch") {
    val hs = java.nio.file.Files.createTempDirectory("hll_asof")
      .toString + "/st"
    val b0 = (1 to 1000).map(i => s"v$i").toDF("v")
    val b1 = (5000 to 5400).map(i => s"v$i").toDF("v")
    Hll.registerStoreAppend(b0, hs, "b0", Nil, "v", M)
    val at0 = Hll.estimateFromStore(spark, hs, Nil, M)
      .select("est").as[Double].head()
    Hll.registerStoreAppend(b1, hs, "b1", Nil, "v", M)
    assert(Hll.estimateFromStoreAsOf(spark, hs, Nil, M, "b0")
      .select("est").as[Double].head() === at0,
      "the as-of cut must reconstruct the pre-b1 estimate")
    val cs = java.nio.file.Files.createTempDirectory("cms_asof")
      .toString + "/st"
    Cms.storeAppend(b0, cs, "b0", "v", 4, 1024)
    val probe = Seq("v1").toDF("v")
    val p0 = Cms.probe(probe, Cms.fromStore(spark, cs), 4, 1024)
      .select("est").as[Long].head()
    Cms.storeAppend(b0, cs, "b1", "v", 4, 1024) // same values again
    assert(Cms.probe(probe, Cms.fromStoreAsOf(spark, cs, "b0"), 4, 1024)
      .select("est").as[Long].head() === p0,
      "as-of must not see the doubled counts")
    assert(Cms.probe(probe, Cms.fromStore(spark, cs), 4, 1024)
      .select("est").as[Long].head() === 2L * p0)
  }

  private val D = 4; private val W = 1024

  test("cms: estimates never under-estimate, and are exact without collisions") {
    // 50 distinct values in a 1024-wide, 4-row sketch: collisions are
    // possible per row but min-of-4 over 50 values at load 0.05 is
    // overwhelmingly exact; the ≥ bound is unconditional either way
    val items = (1 to 50).flatMap(i => Seq.fill(i)(s"item$i")).toDF("v")
    val sk = Cms.build(items, "v", D, W)
    val probes = (1 to 50).map(i => s"item$i").toDF("v")
    val est = Cms.probe(probes, sk, D, W)
      .select("v", "est").as[(String, Long)].collect().toMap
    (1 to 50).foreach { i =>
      assert(est(s"item$i") >= i.toLong, s"item$i: ${est(s"item$i")} < $i")
    }
    assert(est.count { case (k, v) => v == k.drop(4).toLong } >= 45,
      "at load 0.05 nearly all probes should be collision-free")
  }

  test("cms: unseen probe estimates 0 unless it collides in every row") {
    val sk = Cms.build(Seq("a", "b", "c").toDF("v"), "v", D, W)
    val est = Cms.probe(Seq("zzz-unseen").toDF("v"), sk, D, W)
      .select("est").as[Long].head()
    assert(est === 0L, "3 items in 4×1024 cells cannot collide in all rows")
  }

  test("cms: sum-merge of slice sketches equals the one-shot sketch") {
    val all = (1 to 300).flatMap(i => Seq.fill(1 + i % 5)(s"t$i")).toDF("v")
    val s0 = Cms.build(all.filter(length(col("v")) % 2 === 0), "v", D, W)
    val s1 = Cms.build(all.filter(length(col("v")) % 2 === 1), "v", D, W)
    val merged = s0.unionAll(s1).groupBy("i", "bucket")
      .agg(sum(col("cnt")).cast("long").as("cnt"))
    val oneShot = Cms.build(all, "v", D, W)
    assert(merged.exceptAll(oneShot).isEmpty && oneShot.exceptAll(merged).isEmpty)
  }

  test("cms store: redelivered batch no-ops on its marker (sum is not idempotent)") {
    val store = java.nio.file.Files.createTempDirectory("cms").toString + "/st"
    val b0 = (1 to 100).map(i => s"t$i").toDF("v")
    Cms.storeAppend(b0, store, "b0", "v", D, W)
    val total1 = Cms.fromStore(spark, store).agg(sum("cnt")).as[Long].head()
    Cms.storeAppend(b0, store, "b0", "v", D, W) // redelivery
    val total2 = Cms.fromStore(spark, store).agg(sum("cnt")).as[Long].head()
    assert(total1 === total2,
      "a replayed batch would double every cell it touches")
    assert(total1 === 100L * D)
  }
}
