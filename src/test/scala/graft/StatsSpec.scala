package graft

import graft.ops.{Quantiles, Stats}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Statistical testing family: hand-computed fixtures for the exact
  * rational statistics (doubled midranks, determinant chi-square,
  * chance-debited kappa) and the NULL degenerate contracts. */
class StatsSpec extends SparkTestBase {
  import spark.implicits._

  // ---------------------------------------------------- Mann–Whitney

  test("mannWhitney: hand fixture with a tie (doubled ranks exact)") {
    // A = {1, 2}, B = {2, 3}: midranks 1, 2.5, 2.5, 4 → R_A = 3.5,
    // U_A = 0.5 → u2_a = 1; tie term T = 2³−2 = 6;
    // Var = 4·(5·4·3 − 6)/(12·4·3) = 1.5 → z = −1.5/√1.5 = −3/√6
    val df = Seq((1L, "a"), (2L, "a"), (2L, "b"), (3L, "b")).toDF("v", "arm")
    val r = Stats.mannWhitney(df, Seq(), "v", "arm = 'a'").collect().head
    assert(r.getAs[Long]("n_a") === 2L)
    assert(r.getAs[Long]("n_b") === 2L)
    assert(r.getAs[Long]("u2_a") === 1L)
    assert(r.getAs[Double]("u_a") === 0.5)
    assert(r.getAs[Long]("tie_t") === 6L)
    assert(math.abs(r.getAs[Double]("z") - (-3.0 / math.sqrt(6.0))) < 1e-12)
  }

  test("rank-axis guard: an unquantized high-cardinality axis fails loudly") {
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq()
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    spark.conf.set(Stats.MaxRankAxisKey, "16")
    try {
      // 100 distinct values in one group: over the (test-lowered)
      // ceiling → the card must fail LOUDLY, not silently sort
      val df = (1L to 100L).map(i => (i, i % 2 == 0)).toDF("v", "isa")
      val exMw = intercept[Exception] {
        Stats.mannWhitney(df, Seq(), "v", "isa").collect()
      }
      assert(msgs(exMw).exists(_.contains("maxRankAxis")),
        s"expected the axis-guard message, got: ${msgs(exMw)}")
      val exKs = intercept[Exception] {
        Stats.ksTest(df, Seq(), "v", "isa").collect()
      }
      assert(msgs(exKs).exists(_.contains("maxRankAxis")))
      val xy = (1L to 100L).map(i => (i, i * 2)).toDF("x", "y")
      val exSp = intercept[Exception] {
        Stats.spearman(xy, "x", "y").collect()
      }
      assert(msgs(exSp).exists(_.contains("maxRankAxis")))
      // the guard is PER GROUP: 100 values spread over 10 groups of 10
      // distinct values each stays under the ceiling
      val grouped = (1L to 100L).map(i => (i % 10, i % 10 * 10 + i % 7,
        i % 2 == 0)).toDF("g", "v", "isa")
      assert(Stats.mannWhitney(grouped, Seq("g"), "v", "isa")
        .collect().length === 10)
      // within the ceiling the guard is exact 0: same card as before
      spark.conf.set(Stats.MaxRankAxisKey, "4096")
      val ok = Stats.mannWhitney(df, Seq(), "v", "isa").collect().head
      assert(ok.getAs[Long]("n_a") === 50L)
    } finally spark.conf.unset(Stats.MaxRankAxisKey)
  }

  test("mannWhitney: all-tied pool and empty arm give NULL z") {
    val tied = Seq((5L, "a"), (5L, "b")).toDF("v", "arm")
    val rt = Stats.mannWhitney(tied, Seq(), "v", "arm = 'a'").collect().head
    assert(rt.getAs[Long]("u2_a") === 1L) // U = 0.5: the half-win tie
    assert(rt.isNullAt(rt.fieldIndex("z")))
    val solo = Seq((1L, "a"), (2L, "a")).toDF("v", "arm")
    val rs = Stats.mannWhitney(solo, Seq(), "v", "arm = 'a'").collect().head
    assert(rs.getAs[Long]("n_b") === 0L)
    assert(rs.isNullAt(rs.fieldIndex("z")))
  }

  test("mannWhitney: grouped arms are independent") {
    val df = (Seq((1L, "a"), (2L, "b")).map { case (v, m) => ("g1", v, m) } ++
      Seq((9L, "a"), (1L, "b")).map { case (v, m) => ("g2", v, m) })
      .toDF("grp", "v", "arm")
    val m = Stats.mannWhitney(df, Seq("grp"), "v", "arm = 'a'").collect()
      .map(r => r.getAs[String]("grp") -> r.getAs[Long]("u2_a")).toMap
    // g1: A below B → U_A = 0 → u2 = 0; g2: A above B → U_A = 1 → u2 = 2
    assert(m === Map("g1" -> 0L, "g2" -> 2L))
  }

  // ------------------------------------------------ Kolmogorov–Smirnov

  test("ksTest: hand fixture D = 5/12 at v = 2") {
    // A = {1,2,3}, B = {2,3,3,4}: diffs 4, 5, 3, 0 → max 5 at v=2
    val df = (Seq(1L, 2L, 3L).map((_, "a")) ++
      Seq(2L, 3L, 3L, 4L).map((_, "b"))).toDF("v", "arm")
    val r = Stats.ksTest(df, Seq(), "v", "arm = 'a'").collect().head
    assert(r.getAs[Long]("ks_num") === 5L)
    assert(r.getAs[Long]("ks_den") === 12L)
    assert(r.getAs[Double]("d") === 5.0 / 12.0)
    assert(r.getAs[Long]("at_v") === 2L)
  }

  test("ksTest: argmax tie reports the SMALLEST value") {
    // A = {1,3}, B = {2,4}: diff 2 at v=1 and v=3 → at_v = 1
    val df = (Seq(1L, 3L).map((_, "a")) ++ Seq(2L, 4L).map((_, "b")))
      .toDF("v", "arm")
    val r = Stats.ksTest(df, Seq(), "v", "arm = 'a'").collect().head
    assert(r.getAs[Long]("ks_num") === 2L)
    assert(r.getAs[Long]("at_v") === 1L)
  }

  test("ksTest: empty arm gives NULL d") {
    val df = Seq((1L, "a"), (2L, "a")).toDF("v", "arm")
    val r = Stats.ksTest(df, Seq(), "v", "arm = 'a'").collect().head
    assert(r.getAs[Long]("ks_den") === 0L)
    assert(r.isNullAt(r.fieldIndex("d")))
  }

  // --------------------------------------------- effect-size cards

  test("rankBiserial: MW fixture gives u2/4 − 1 = −0.75; NULL empty arm") {
    val df = Seq((1L, "a"), (2L, "a"), (2L, "b"), (3L, "b")).toDF("v", "arm")
    val r = Stats.rankBiserial(df, Seq(), "v", "arm = 'a'").collect().head
    assert(r.getAs[Long]("u2_a") === 1L)
    assert(r.getAs[Double]("rank_biserial") === 1.0 / 4.0 - 1.0)
    val solo = Seq((1L, "a")).toDF("v", "arm")
    val rs = Stats.rankBiserial(solo, Seq(), "v", "arm = 'a'").collect().head
    assert(rs.isNullAt(rs.fieldIndex("rank_biserial")))
  }

  test("oddsRatio2x2: textbook fraction, NULL on an empty discordant cell") {
    val rows = Seq.fill(20)((true, true)) ++ Seq.fill(5)((true, false)) ++
      Seq.fill(10)((false, true)) ++ Seq.fill(15)((false, false))
    val r = Stats.oddsRatio2x2(rows.toDF("a", "b"), "a", "b").collect().head
    assert(r.getAs[Long]("or_num") === 300L)
    assert(r.getAs[Long]("or_den") === 50L)
    assert(r.getAs[Double]("odds_ratio") === 6.0)
    val perfect = (Seq.fill(5)((true, true)) ++ Seq.fill(5)((false, false)))
      .toDF("a", "b")
    val rp = Stats.oddsRatio2x2(perfect, "a", "b").collect().head
    assert(rp.getAs[Long]("or_den") === 0L)
    assert(rp.isNullAt(rp.fieldIndex("odds_ratio")))
  }

  // ----------------------------------------------------- Cohen's kappa

  test("kappa: textbook 2×2 fixture = 0.4") {
    // (y,y)=20 (y,n)=5 (n,y)=10 (n,n)=15: po=0.7, pe=0.5 → kappa=0.4
    val rows = Seq.fill(20)(("y", "y")) ++ Seq.fill(5)(("y", "n")) ++
      Seq.fill(10)(("n", "y")) ++ Seq.fill(15)(("n", "n"))
    val r = Stats.kappa(rows.toDF("truth", "pred"), "truth", "pred")
      .collect().head
    assert(r.getAs[Long]("n") === 50L)
    assert(r.getAs[Long]("n_agree") === 35L)
    assert(r.getAs[Long]("pe_num") === 1250L)
    assert(r.getAs[Long]("kappa_num") === 500L)
    assert(r.getAs[Long]("kappa_den") === 1250L)
    assert(r.getAs[Double]("kappa") === 0.4)
  }

  test("kappa: perfect agreement = 1; constant labels = NULL") {
    val perfect = (Seq.fill(3)(("a", "a")) ++ Seq.fill(2)(("b", "b")))
      .toDF("t", "p")
    assert(Stats.kappa(perfect, "t", "p").collect().head
      .getAs[Double]("kappa") === 1.0)
    val const = Seq.fill(4)(("a", "a")).toDF("t", "p")
    val rc = Stats.kappa(const, "t", "p").collect().head
    assert(rc.getAs[Long]("kappa_den") === 0L)
    assert(rc.isNullAt(rc.fieldIndex("kappa")))
  }

  // -------------------------------------------------- 2×2 chi-square

  test("chi2x2: perfect association chi2 = n, phi = 1; balanced = 0") {
    val perfect = (Seq.fill(10)((true, true)) ++ Seq.fill(10)((false, false)))
      .toDF("a", "b")
    val rp = Stats.chi2x2(perfect, "a", "b").collect().head
    assert(rp.getAs[Long]("det") === 100L)
    assert(rp.getAs[Double]("chi2") === 20.0)
    assert(rp.getAs[Double]("phi") === 1.0)
    val flat = (Seq.fill(5)((true, true)) ++ Seq.fill(5)((true, false)) ++
      Seq.fill(5)((false, true)) ++ Seq.fill(5)((false, false))).toDF("a", "b")
    val rf = Stats.chi2x2(flat, "a", "b").collect().head
    assert(rf.getAs[Long]("det") === 0L)
    assert(rf.getAs[Double]("chi2") === 0.0)
    assert(rf.getAs[Double]("phi") === 0.0)
  }

  test("chi2x2: zero margin gives NULL chi2/phi, never Inf") {
    val df = Seq((true, true), (true, false)).toDF("a", "b") // r0 = 0
    val r = Stats.chi2x2(df, "a", "b").collect().head
    assert(r.isNullAt(r.fieldIndex("chi2")))
    assert(r.isNullAt(r.fieldIndex("phi")))
  }

  // -------------------------------------------- Goodman–Kruskal lambda

  test("gkLambda: determination = 1, independence = 0, constant = NULL") {
    val det = (Seq.fill(3)((1L, "a")) ++ Seq.fill(2)((2L, "b"))).toDF("x", "y")
    assert(Stats.gkLambda(det, "x", "y").collect().head
      .getAs[Double]("lambda_gk") === 1.0)
    val indep = (Seq.fill(2)((1L, "a")) ++ Seq.fill(1)((1L, "b")) ++
      Seq.fill(2)((2L, "a")) ++ Seq.fill(1)((2L, "b"))).toDF("x", "y")
    val ri = Stats.gkLambda(indep, "x", "y").collect().head
    assert(ri.getAs[Long]("sum_modal") === 4L)
    assert(ri.getAs[Long]("modal_y") === 4L)
    assert(ri.getAs[Double]("lambda_gk") === 0.0)
    val const = Seq.fill(3)((1L, "a")).toDF("x", "y")
    val rcst = Stats.gkLambda(const, "x", "y").collect().head
    assert(rcst.isNullAt(rcst.fieldIndex("lambda_gk")))
  }

  // ------------------------------------------------------- Spearman

  test("spearman: monotone = 1, reversed = −1") {
    // rho's denominator is √s_x·√s_y — deterministic IEEE, but √18²
    // ≠ 18 exactly, so the QUOTIENT carries one ulp (the integer
    // pieces s_xy/s_x/s_y are the exact part of the contract)
    val up = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("x", "y")
    assert(math.abs(Stats.spearman(up, "x", "y").collect().head
      .getAs[Double]("rho") - 1.0) < 1e-12)
    val down = Seq((1L, 30L), (2L, 20L), (3L, 10L)).toDF("x", "y")
    assert(math.abs(Stats.spearman(down, "x", "y").collect().head
      .getAs[Double]("rho") - (-1.0)) < 1e-12)
  }

  test("spearman: tied fixture = 0.5 (doubled midranks exact)") {
    // x = {1,1,2}, y = {5,6,6}: midranks rx = 1.5,1.5,3, ry = 1,2.5,2.5
    // → Pearson over ranks = 0.75/1.5 = 0.5
    val df = Seq((1L, 5L), (1L, 6L), (2L, 6L)).toDF("x", "y")
    val r = Stats.spearman(df, "x", "y").collect().head
    assert(r.getAs[Long]("n") === 3L)
    assert(r.getAs[Long]("s_xy") === 9L)
    assert(r.getAs[Long]("s_x") === 18L)
    assert(r.getAs[Long]("s_y") === 18L)
    assert(math.abs(r.getAs[Double]("rho") - 0.5) < 1e-12)
  }

  test("grouped kappa/chi2x2/gkLambda/spearman: per-group cards are independent") {
    // kappa — group p: perfect agreement (kappa 1); group q: constant
    // prediction (chance-level, kappa 0 via pe_num = 2, num = 0)
    val lab = Seq(("p", "x", "x"), ("p", "y", "y"),
      ("q", "x", "x"), ("q", "y", "x")).toDF("g", "act", "pred")
    val k = Stats.kappa(lab, Seq("g"), "act", "pred").collect()
      .map(r => r.getAs[String]("g") -> r).toMap
    assert(k("p").getAs[Double]("kappa") === 1.0)
    assert(k("q").getAs[Long]("pe_num") === 2L)
    assert(k("q").getAs[Double]("kappa") === 0.0)
    // chi2x2 — group p: perfect association (chi2 = n, phi = 1);
    // group q: zero margin (all a) → NULL, never Inf
    val cc = Seq(("p", true, true), ("p", true, true), ("p", false, false),
      ("p", false, false), ("q", true, true), ("q", true, false))
      .toDF("g", "a", "b")
    val c = Stats.chi2x2(cc, Seq("g"), "a", "b").collect()
      .map(r => r.getAs[String]("g") -> r).toMap
    assert(c("p").getAs[Double]("chi2") === 4.0)
    assert(c("p").getAs[Double]("phi") === 1.0)
    assert(c("q").isNullAt(c("q").fieldIndex("chi2")))
    // gkLambda — group p: x determines y (lambda 1); group q: constant
    // y (NULL, nothing to predict)
    val xy = Seq(("p", "a", "u"), ("p", "b", "v"), ("q", "a", "u"),
      ("q", "b", "u")).toDF("g", "x", "y")
    val l = Stats.gkLambda(xy, Seq("g"), "x", "y").collect()
      .map(r => r.getAs[String]("g") -> r).toMap
    assert(l("p").getAs[Double]("lambda_gk") === 1.0)
    assert(l("q").isNullAt(l("q").fieldIndex("lambda_gk")))
    // spearman — group p monotone (rho 1), group q reversed (rho −1):
    // the groups must not contaminate each other's rank tables
    val sp = Seq(("p", 1L, 10L), ("p", 2L, 20L), ("p", 3L, 30L),
      ("q", 1L, 30L), ("q", 2L, 20L), ("q", 3L, 10L)).toDF("g", "x", "y")
    val s = Stats.spearman(sp, Seq("g"), "x", "y").collect()
      .map(r => r.getAs[String]("g") -> r).toMap
    assert(math.abs(s("p").getAs[Double]("rho") - 1.0) < 1e-12)
    assert(math.abs(s("q").getAs[Double]("rho") + 1.0) < 1e-12)
  }

  test("spearman: constant axis gives NULL rho") {
    val df = Seq((1L, 7L), (2L, 7L)).toDF("x", "y")
    val r = Stats.spearman(df, "x", "y").collect().head
    assert(r.getAs[Long]("s_y") === 0L)
    assert(r.isNullAt(r.fieldIndex("rho")))
  }

  // --------------------------------------------- Wilcoxon signed-rank

  test("wilcoxon: hand fixture, zeros dropped and counted") {
    // d = {+1, +2, −3, 0}: n_r = 3, doubled ranks 2/4/6, W+ = 3,
    // mean = 3, Var·4 = 2·3·4·7/12·… → z = 0 exactly
    val df = Seq((0L, 1L), (0L, 2L), (3L, 0L), (5L, 5L)).toDF("x", "y")
    val r = Stats.wilcoxonSignedRank(df, "x", "y").collect().head
    assert(r.getAs[Long]("n_pairs") === 4L)
    assert(r.getAs[Long]("n_zero") === 1L)
    assert(r.getAs[Long]("n_r") === 3L)
    assert(r.getAs[Long]("w2_pos") === 6L)
    assert(r.getAs[Double]("w_pos") === 3.0)
    assert(r.getAs[Double]("z") === 0.0)
  }

  test("wilcoxon: one-sided shift and |d| ties") {
    // all positive d = {1,2,3}: W+ = 6, mean = 3, 4Var = 168/12 = 14
    val up = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("x", "y")
    val ru = Stats.wilcoxonSignedRank(up, "x", "y").collect().head
    assert(ru.getAs[Long]("w2_pos") === 12L)
    assert(math.abs(ru.getAs[Double]("z") - 6.0 / math.sqrt(14.0)) < 1e-12)
    // d = {+1, +1, −2}: |d| midranks 1.5, 1.5, 3 → W+ = 3, T = 6
    val tied = Seq((0L, 1L), (0L, 1L), (2L, 0L)).toDF("x", "y")
    val rt = Stats.wilcoxonSignedRank(tied, "x", "y").collect().head
    assert(rt.getAs[Long]("w2_pos") === 6L)
    assert(rt.getAs[Long]("tie_t") === 6L)
    // all-zero d: n_r = 0 → NULL z
    val zz = Seq((1L, 1L), (2L, 2L)).toDF("x", "y")
    val rz = Stats.wilcoxonSignedRank(zz, "x", "y").collect().head
    assert(rz.getAs[Long]("n_r") === 0L)
    assert(rz.isNullAt(rz.fieldIndex("z")))
  }

  // -------------------------------------------------------- McNemar

  test("kruskalWallis: separated-groups hand fixture; empty named group NULL") {
    // a={1,2}, b={3,4}, c={5,6}: doubled ranks 2i, r2 = (6, 14, 22),
    // H = 12·(9/2 + 49/2 + 121/2)/42 − 21 = 1074/42 − 21 = 4.5714…
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "b"),
      (5L, "c"), (6L, "c"), (9L, "zz")).toDF("v", "g")
    val r = Stats.kruskalWallis(df, "v", "g", Seq("a", "b", "c"))
      .collect().head
    assert(r.getAs[Long]("n") === 6L)
    assert(r.getAs[Long]("n_other") === 1L, "unnamed groups counted loudly")
    assert(r.getAs[Long]("r2_a") === 6L)
    assert(r.getAs[Long]("r2_b") === 14L)
    assert(r.getAs[Long]("r2_c") === 22L)
    assert(r.getAs[Long]("tie_t") === 0L)
    assert(math.abs(r.getAs[Double]("h") - (1074.0 / 42.0 - 21.0)) < 1e-12)
    assert(r.getAs[Double]("h_corrected") === r.getAs[Double]("h"))
    // an empty NAMED group nulls the card (it is a data bug, not 0)
    val re = Stats.kruskalWallis(df, "v", "g", Seq("a", "b", "missing"))
      .collect().head
    assert(re.isNullAt(re.fieldIndex("h")))
    // all-tied pool: corrected form NULL (zero tie-adjusted variance)
    val tied = Seq((5L, "a"), (5L, "b"), (5L, "c")).toDF("v", "g")
    val rt = Stats.kruskalWallis(tied, "v", "g", Seq("a", "b", "c"))
      .collect().head
    assert(rt.isNullAt(rt.fieldIndex("h_corrected")))
  }

  test("grouped kruskalWallis: per-segment cards equal per-segment ungrouped runs") {
    // two segments with DIFFERENT group effects + one segment whose
    // rows are all outside the named groups
    val rows = ((1L to 90L).map { i =>
      val g = Seq("a", "b", "c")((i % 3).toInt)
      val v = if (g == "b") i % 7 + 10L else i % 7 // seg s0: b shifted
      ("s0", v, g)
    } ++ (1L to 90L).map { i =>
      ("s1", i % 5, Seq("a", "b", "c")((i % 3).toInt)) // s1: no effect
    } ++ (1L to 10L).map(i => ("s2", i, "zzz"))).toDF("seg", "v", "g")
    val by = Stats.kruskalWallis(rows, Seq("seg"), "v", "g",
        Seq("a", "b", "c"))
      .collect().map(r => r.getAs[String]("seg") -> r).toMap
    assert(by.size === 3)
    // each segment's card equals the ungrouped run on that slice alone
    Seq("s0", "s1").foreach { s =>
      val solo = Stats.kruskalWallis(rows.filter($"seg" === s), "v", "g",
        Seq("a", "b", "c")).collect().head
      val grouped = by(s)
      // same columns modulo the leading seg and the n/n_other swap
      assert(grouped.getAs[Long]("n") === solo.getAs[Long]("n"))
      assert(grouped.getAs[Double]("h") === solo.getAs[Double]("h"))
      assert(grouped.getAs[Double]("h_corrected")
        === solo.getAs[Double]("h_corrected"))
      Seq("a", "b", "c").foreach { g =>
        assert(grouped.getAs[Long](s"r2_$g") === solo.getAs[Long](s"r2_$g"))
      }
    }
    // the planted shift is visible only in s0
    assert(by("s0").getAs[Double]("h") > by("s1").getAs[Double]("h"))
    // an all-other segment still emits a row: n = 0, loud NULL h
    assert(by("s2").getAs[Long]("n") === 0L)
    assert(by("s2").getAs[Long]("n_other") === 10L)
    assert(by("s2").isNullAt(by("s2").fieldIndex("h")))
  }

  test("cochranQ: textbook fixture Q = 4; all-concordant items NULL") {
    val rows = Seq(
      (1L, "A", true), (1L, "B", true), (1L, "C", false),
      (2L, "A", true), (2L, "B", true), (2L, "C", false),
      (3L, "A", true), (3L, "B", true), (3L, "C", true),
      (4L, "A", false), (4L, "B", false), (4L, "C", false))
      .toDF("item", "t", "s")
    val r = Stats.cochranQ(rows, "item", "t", "s", k = 3).collect().head
    assert(r.getAs[Long]("n_items") === 4L)
    assert(r.getAs[Long]("bad_items") === 0L)
    assert(r.getAs[Long]("n_success") === 7L)
    assert(r.getAs[Long]("sum_tj2") === 19L)
    assert(r.getAs[Long]("sum_ui2") === 17L)
    // Q = (k−1)(k·ΣT² − N²)/(kN − Σu²) = 2·(57 − 49)/(21 − 17) = 4
    assert(r.getAs[Long]("q_num") === 16L)
    assert(r.getAs[Long]("q_den") === 4L)
    assert(r.getAs[Double]("q") === 4.0)
    // every item unanimous → zero discordance, NULL q
    val unan = Seq((1L, "A", true), (1L, "B", true), (1L, "C", true),
      (2L, "A", false), (2L, "B", false), (2L, "C", false))
      .toDF("item", "t", "s")
    val ru = Stats.cochranQ(unan, "item", "t", "s", k = 3).collect().head
    assert(ru.isNullAt(ru.fieldIndex("q")))
    // a short panel is counted loudly AND excluded from every sum:
    // complete-case Q, never silently computed over corrupt rows
    val bad = unan.filter(!(col("item") === 2L && col("t") === "C"))
    val rb = Stats.cochranQ(bad, "item", "t", "s", k = 3).collect().head
    assert(rb.getAs[Long]("bad_items") === 1L)
    assert(rb.getAs[Long]("n_items") === 2L)
    // only item 1 (all-true, complete) contributes: N = 3, ΣT² = 3,
    // Σu² = 9 — item 2's two remaining false votes are out
    assert(rb.getAs[Long]("n_success") === 3L)
    assert(rb.getAs[Long]("sum_tj2") === 3L)
    assert(rb.getAs[Long]("sum_ui2") === 9L)
  }

  test("grouped cochranQ: per-segment cards equal per-slice ungrouped runs") {
    // segment A: the textbook Q = 4 fixture; segment B: unanimous
    // (NULL q); segment C: one incomplete panel (complete-case sums)
    val segA = Seq(
      (1L, "A", true), (1L, "B", true), (1L, "C", false),
      (2L, "A", true), (2L, "B", true), (2L, "C", false),
      (3L, "A", true), (3L, "B", true), (3L, "C", true),
      (4L, "A", false), (4L, "B", false), (4L, "C", false))
      .map { case (i, t, s) => ("sA", i, t, s) }
    val segB = Seq((1L, "A", true), (1L, "B", true), (1L, "C", true))
      .map { case (i, t, s) => ("sB", i, t, s) }
    val segC = Seq((1L, "A", true), (1L, "B", true), (1L, "C", true),
      (2L, "A", false), (2L, "B", false))
      .map { case (i, t, s) => ("sC", i, t, s) }
    val rows = (segA ++ segB ++ segC).toDF("seg", "item", "t", "s")
    val by = Stats.cochranQ(rows, Seq("seg"), "item", "t", "s", k = 3)
      .collect().map(r => r.getAs[String]("seg") -> r).toMap
    assert(by.size === 3)
    Seq("sA", "sB", "sC").foreach { g =>
      val solo = Stats.cochranQ(rows.filter($"seg" === g), "item", "t",
        "s", k = 3).collect().head
      assert(by(g).toSeq.drop(1) === solo.toSeq,
        s"segment $g must equal the ungrouped run on its slice")
    }
    assert(by("sA").getAs[Double]("q") === 4.0)
    assert(by("sB").isNullAt(by("sB").fieldIndex("q")))
    assert(by("sC").getAs[Long]("bad_items") === 1L)
    assert(by("sC").getAs[Long]("n_success") === 3L,
      "incomplete item 2 must be excluded from the segment's sums")
  }

  test("kendallCells: perfect concordance/discordance; tie-only NULL gamma") {
    // cells (1,1)×2, (2,2)×1, (3,3)×1: C = 2+2+1 = 5, D = 0,
    // tau-b = 2·5/(√10·√10) = 1
    val con = Seq((1L, 1L), (1L, 1L), (2L, 2L), (3L, 3L)).toDF("x", "y")
    val rc = Stats.kendallCells(con, "x", "y").collect().head
    assert(rc.getAs[Long]("n") === 4L && rc.getAs[Long]("n_cells") === 3L)
    assert(rc.getAs[Long]("c_pairs") === 5L && rc.getAs[Long]("d_pairs") === 0L)
    assert(rc.getAs[Double]("gamma") === 1.0)
    assert(math.abs(rc.getAs[Double]("tau_b") - 1.0) < 1e-12)
    val dis = Seq((1L, 3L), (1L, 3L), (2L, 2L), (3L, 1L)).toDF("x", "y")
    val rd = Stats.kendallCells(dis, "x", "y").collect().head
    assert(rd.getAs[Double]("gamma") === -1.0)
    assert(math.abs(rd.getAs[Double]("tau_b") + 1.0) < 1e-12)
    // constant x: every pair tied on x → C + D = 0 → NULL
    val flat = Seq((1L, 1L), (1L, 2L), (1L, 3L)).toDF("x", "y")
    val rf = Stats.kendallCells(flat, "x", "y").collect().head
    assert(rf.isNullAt(rf.fieldIndex("gamma")))
    assert(rf.isNullAt(rf.fieldIndex("tau_b")))
  }

  test("mcnemar: only discordant pairs matter") {
    // b = 5, c = 1, 4 concordant → (b−c)²/(b+c) = 16/6
    val rows = Seq.fill(5)((true, false)) ++ Seq.fill(1)((false, true)) ++
      Seq.fill(2)((true, true)) ++ Seq.fill(2)((false, false))
    val r = Stats.mcnemar(rows.toDF("c1", "c2"), "c1", "c2").collect().head
    assert(r.getAs[Long]("n") === 10L)
    assert(r.getAs[Long]("b") === 5L)
    assert(r.getAs[Long]("c") === 1L)
    assert(r.getAs[Long]("mcnemar_num") === 16L)
    assert(r.getAs[Long]("mcnemar_den") === 6L)
    assert(r.getAs[Double]("mcnemar") === 16.0 / 6.0)
    // fully concordant → NULL (no evidence either way)
    val conc = Seq((true, true), (false, false)).toDF("c1", "c2")
    val rc = Stats.mcnemar(conc, "c1", "c2").collect().head
    assert(rc.getAs[Long]("mcnemar_den") === 0L)
    assert(rc.isNullAt(rc.fieldIndex("mcnemar")))
  }

  // -------------------------------------------------- Fleiss' kappa

  test("fleissKappa: hand fixture −1/3, perfect = 1, degenerate NULL") {
    // items: i1 votes (a,a), i2 votes (a,b), r = 2:
    // P̄ = (6−4)/4 = 0.5, Pe = (9+1)/16 = 0.625 → kappa = −1/3
    val mixed = Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "b"))
      .toDF("item", "cat")
    val rm = Stats.fleissKappa(mixed, "item", "cat", raters = 2)
      .collect().head
    assert(rm.getAs[Long]("n_items") === 2L)
    assert(rm.getAs[Long]("bad_items") === 0L)
    assert(rm.getAs[Long]("s2") === 6L)
    assert(rm.getAs[Long]("pe_num") === 10L)
    assert(rm.getAs[Long]("kappa_num") === -8L)
    assert(rm.getAs[Long]("kappa_den") === 24L)
    assert(math.abs(rm.getAs[Double]("kappa") - (-1.0 / 3.0)) < 1e-15)
    // unanimous per item, split across: kappa = 1
    val perfect = Seq((1L, "a"), (1L, "a"), (2L, "b"), (2L, "b"))
      .toDF("item", "cat")
    assert(Stats.fleissKappa(perfect, "item", "cat", raters = 2)
      .collect().head.getAs[Double]("kappa") === 1.0)
    // every vote one category: den = 0 → NULL
    val mono = Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "a"))
      .toDF("item", "cat")
    val rmono = Stats.fleissKappa(mono, "item", "cat", raters = 2)
      .collect().head
    assert(rmono.isNullAt(rmono.fieldIndex("kappa")))
  }

  test("fleissKappa: bad_items counts panel-size violations loudly") {
    val uneven = Seq((1L, "a"), (1L, "a"), (2L, "a")).toDF("item", "cat")
    val r = Stats.fleissKappa(uneven, "item", "cat", raters = 2)
      .collect().head
    assert(r.getAs[Long]("bad_items") === 1L)
  }

  // ------------------------------------------- specific agreement

  test("specificAgreement: per-category drill-down of the Fleiss fixture") {
    // i1 (a,a), i2 (a,b), r=2: cat a → Σn(n−1)=2 over t=3 → 2/3;
    // cat b → 0/1 = 0 (the label raters never co-pick)
    val df = Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "b"))
      .toDF("item", "cat")
    val m = Stats.specificAgreement(df, "item", "cat", raters = 2)
      .collect().map(r => r.getAs[String]("cat") -> r).toMap
    assert(m("a").getAs[Long]("t_j") === 3L)
    assert(m("a").getAs[Long]("s_num") === 2L)
    assert(m("a").getAs[Long]("s_den") === 3L)
    assert(m("a").getAs[Double]("specific_agreement") === 2.0 / 3.0)
    assert(m("b").getAs[Double]("specific_agreement") === 0.0)
  }

  // --------------------------------------------------------- Benford

  test("benfordDigits: all 9 rows, absent digits at zero, exclusions counted") {
    val df = Seq(1L, 1L, 2L, 0L, -5L).toDF("v")
    val rows = Stats.benfordDigits(df, "v").collect()
      .map(r => r.getAs[Int]("digit") -> r).toMap
    assert(rows.size === 9, "every digit row must exist")
    assert(rows(1).getAs[Long]("obs") === 2L)
    assert(rows(2).getAs[Long]("obs") === 1L)
    assert(rows(9).getAs[Long]("obs") === 0L)
    assert(rows(1).getAs[Long]("n") === 3L)
    assert(rows(1).getAs[Long]("n_excluded") === 2L)
    // exact integer deviation: |2·2^20 − 3·315652| = |2097152 − 946956|
    assert(rows(1).getAs[Long]("dev_num") === 2097152L - 3L * 315652L)
    assert(rows(1).getAs[Double]("share") === 2.0 / 3.0)
  }

  test("benfordDigits: a Benford-ish geometric sample lands near expectation") {
    // powers-of-2 first digits follow Benford closely
    val df = (0 until 64).map(i => BigInt(2).pow(i).toString.take(1).toLong)
      .toDF("v")
    val rows = Stats.benfordDigits(df, "v").collect()
    val d1 = rows.find(_.getAs[Int]("digit") == 1).get
    assert(math.abs(d1.getAs[Double]("share") -
      d1.getAs[Double]("benford_p")) < 0.02)
  }

  // ------------------------------------------------------------ MDE

  test("mdeCard: identity with the hand formula; more traffic = smaller MDE") {
    import graft.ops.Abtest
    def card(n: Long) = Abtest.mdeCard(
      (1L to n).map(u => (u, u % 10 == 0)).toDF("u", "c"),
      "u", "c", "s").collect().head
    val small = card(200L); val big = card(2000L)
    val (na, nb) = (small.getAs[Long]("n_a"), small.getAs[Long]("n_b"))
    val p = (small.getAs[Long]("conv_a") + small.getAs[Long]("conv_b"))
      .toDouble / (na + nb)
    val want = (1.959964 + 0.841621) *
      math.sqrt(p * (1.0 - p) * (1.0 / na + 1.0 / nb))
    assert(math.abs(small.getAs[Double]("mde_abs") - want) < 1e-12)
    assert(big.getAs[Double]("mde_abs") < small.getAs[Double]("mde_abs"))
  }

  // ------------------------------------------------ Poisson bootstrap

  test("poissonBootstrap: deterministic replay, sane estimates") {
    val df = (1L to 400L).map(i => (i, 10L)).toDF("id", "v")
    val r1 = Stats.poissonBootstrap(df, "id", "v", replicates = 32,
      salt = "s1").collect().head
    val r2 = Stats.poissonBootstrap(df, "id", "v", replicates = 32,
      salt = "s1").collect().head
    assert(r1 === r2, "same salt must replay bit-identically")
    assert(r1.getAs[Long]("r") === 32L)
    assert(r1.getAs[Long]("n") === 400L)
    assert(r1.getAs[Long]("total") === 4000L)
    // E[multiplicity] ≈ 1 → bootstrap totals center on the real total
    assert(math.abs(r1.getAs[Double]("boot_mean_total") - 4000.0) < 400.0)
    // constant v = 10: T_r = 10·Poisson(n) → se_total ≈ 10·√400 = 200
    val se = r1.getAs[Double]("se_total")
    assert(se > 100.0 && se < 320.0, s"se_total $se implausible for n=400")
    assert(r1.getAs[Double]("se_mean") === se / 400.0)
    // a different salt is a fresh randomization
    val r3 = Stats.poissonBootstrap(df, "id", "v", replicates = 32,
      salt = "s2").collect().head
    assert(r3.getAs[Double]("se_total") !== se)
  }

  // ------------------------------------------- leave-one-out influence

  test("leaveOneOutInfluence: hand fixture and whole-corpus NULL") {
    import graft.ops.Profile
    // a: {1,3} (n=2, T=4), b: {5}: overall mean 3; drop a → 5, drop b → 2
    val df = Seq(("a", 1L), ("a", 3L), ("b", 5L)).toDF("src", "v")
    val m = Profile.leaveOneOutInfluence(df, "src", "v").collect()
      .map(r => r.getAs[String]("src") -> r).toMap
    assert(m("a").getAs[Long]("loo_num") === 5L)
    assert(m("a").getAs[Long]("loo_den") === 1L)
    assert(m("a").getAs[Double]("loo_mean") === 5.0)
    assert(m("a").getAs[Double]("delta") === 2.0)
    assert(m("b").getAs[Double]("loo_mean") === 2.0)
    assert(m("b").getAs[Double]("delta") === -1.0)
    val solo = Seq(("only", 7L)).toDF("src", "v")
    val rs = Profile.leaveOneOutInfluence(solo, "src", "v").collect().head
    assert(rs.isNullAt(rs.fieldIndex("loo_mean")))
    assert(rs.isNullAt(rs.fieldIndex("delta")))
  }

  test("bootstrap store: split batches reproduce the one-shot bit-for-bit") {
    val store = java.nio.file.Files.createTempDirectory("boot_st")
      .toString + "/s"
    val all = (1L to 300L).map(i => (i, i % 17 * 3L))
    val df = all.toDF("id", "v")
    Stats.bootstrapStoreAppend(df.filter($"id" % 2 === 0), store, "b0",
      "id", "v", replicates = 16, salt = "s1")
    Stats.bootstrapStoreAppend(df.filter($"id" % 2 === 1), store, "b1",
      "id", "v", replicates = 16, salt = "s1")
    val stored = Stats.bootstrapFromStore(spark, store).collect().head
    val oneShot = Stats.poissonBootstrap(df, "id", "v", replicates = 16,
      salt = "s1").collect().head
    assert(stored === oneShot,
      "replicate totals must ADD across batches — the additivity theorem")
    // a redelivered batch tag is a no-op (marker-gated)
    Stats.bootstrapStoreAppend(df.filter($"id" % 2 === 1), store, "b1",
      "id", "v", replicates = 16, salt = "s1")
    assert(Stats.bootstrapFromStore(spark, store).collect().head === oneShot)
  }

  test("bootstrap as-of read: a later batch cannot perturb the audited CI") {
    val store = java.nio.file.Files.createTempDirectory("boot_asof")
      .toString + "/s"
    val all = (1L to 300L).map(i => (i, i % 17 * 3L))
    val df = all.toDF("id", "v")
    Stats.bootstrapStoreAppend(df.filter($"id" % 2 === 0), store, "b0",
      "id", "v", replicates = 16, salt = "s1")
    val atB0 = Stats.bootstrapFromStore(spark, store).collect().head
    Stats.bootstrapStoreAppend(df.filter($"id" % 2 === 1), store, "b1",
      "id", "v", replicates = 16, salt = "s1")
    assert(Stats.bootstrapFromStoreAsOf(spark, store, "b0").collect().head
      === atB0, "the as-of cut must reconstruct the pre-b1 readout")
    // and equals the one-shot over the cut's slice
    val oneShot = Stats.poissonBootstrap(df.filter($"id" % 2 === 0),
      "id", "v", replicates = 16, salt = "s1").collect().head
    assert(atB0 === oneShot)
  }

  test("bootstrap live loop: per-batch readout tracks the cumulative corpus") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val store = java.nio.file.Files.createTempDirectory("boot_live")
      .toString + "/s"
    val ckpt = java.nio.file.Files.createTempDirectory("boot_ck").toString
    val mem = MemoryStream[(Long, Long)]
    val reads = scala.collection.mutable.Map.empty[Long, org.apache.spark.sql.Row]
    val q = graft.streaming.StoreLoop.writer(mem.toDF().toDF("id", "v"))(
        Stats.bootstrapStoreAppend(_, store, _, "id", "v",
          replicates = 8, salt = "s2")) {
        (bid, _) => reads(bid) = Stats.bootstrapFromStore(spark, store).collect().head
      }
      .option("checkpointLocation", ckpt).start()
    mem.addData((1L to 100L).map(i => (i, 5L)): _*)
    q.processAllAvailable()
    mem.addData((101L to 200L).map(i => (i, 5L)): _*)
    q.processAllAvailable()
    q.stop()
    assert(reads(0L).getAs[Long]("n") === 100L)
    assert(reads(1L).getAs[Long]("n") === 200L)
    assert(reads(1L).getAs[Long]("total") === 1000L)
    val oneShot = Stats.poissonBootstrap(
      (1L to 200L).map(i => (i, 5L)).toDF("id", "v"), "id", "v",
      replicates = 8, salt = "s2").collect().head
    assert(reads(1L) === oneShot, "live readout must equal the one-shot")
  }

  // ------------------------------------- whole-input and grouped cards

  test("every ungrouped card is one row on an empty input: zero counts, NULL statistic") {
    val e = Seq.empty[(Long, Long, Boolean, Boolean, String, String)]
      .toDF("x", "y", "a", "b", "s", "t")
    // (card, output, count columns, final statistic)
    val cards: Seq[(String, DataFrame, Seq[String], String)] = Seq(
      ("kappa", Stats.kappa(e, "s", "t"), Seq("n", "n_agree", "pe_num"),
        "kappa"),
      ("chi2x2", Stats.chi2x2(e, "a", "b"),
        Seq("n", "o11", "o10", "o01", "o00"), "chi2"),
      ("oddsRatio2x2", Stats.oddsRatio2x2(e, "a", "b"),
        Seq("n", "o11", "o10", "o01", "o00"), "odds_ratio"),
      ("mcnemar", Stats.mcnemar(e, "a", "b"), Seq("n", "b", "c"), "mcnemar"),
      ("gkLambda", Stats.gkLambda(e, "s", "t"),
        Seq("n", "sum_modal", "modal_y"), "lambda_gk"),
      ("spearman", Stats.spearman(e, "x", "y"), Seq("n"), "rho"),
      ("kruskalWallis", Stats.kruskalWallis(e, "x", "s", Seq("p", "q")),
        Seq("n", "n_other", "n_p", "n_q", "r2_p", "r2_q", "tie_t"), "h"),
      ("cochranQ", Stats.cochranQ(e, "x", "s", "a", k = 2),
        Seq("n_items", "bad_items", "n_success", "sum_tj2", "sum_ui2"), "q"),
      ("kendallCells", Stats.kendallCells(e, "x", "y"),
        Seq("n", "n_cells", "c_pairs", "d_pairs"), "gamma"),
      ("wilcoxonSignedRank", Stats.wilcoxonSignedRank(e, "x", "y"),
        Seq("n_pairs", "n_zero", "n_r", "w2_pos", "tie_t"), "z"),
      ("fleissKappa", Stats.fleissKappa(e, "x", "s", raters = 2),
        Seq("n_items", "bad_items", "s2", "pe_num"), "kappa"))
    val wrong = cards.flatMap { case (name, out, counts, stat) =>
      out.collect() match {
        case Array(r) =>
          def v(c: String) = s"$name.$c = ${r.get(r.fieldIndex(c))}"
          counts.filter(c => r.isNullAt(r.fieldIndex(c)) || r.getAs[Long](c) != 0L)
            .map(v) ++ Seq(stat).filterNot(c => r.isNullAt(r.fieldIndex(c))).map(v)
        case rows => Seq(s"$name: ${rows.length} rows")
      }
    }
    assert(wrong === Nil)
  }

  test("every grouped card's row for a segment equals the ungrouped card on that slice") {
    // three segments with different x/y relations, label agreement,
    // kruskal group effects and complete three-treatment cochran items
    val k = col("id") % 3; val i = expr("id div 3")
    val rows = spark.range(0, 90).select(
      concat(lit("s"), k.cast("string")).as("seg"),
      (i % 5 + k).as("x"), (i * (k + 2) % 7).as("y"),
      (i % 2 === 0).as("a"), ((i + k) % 3 === 0).as("b"),
      element_at(array(lit("p"), lit("q"), lit("r")), (i % 3 + 1).cast("int"))
        .as("g"),
      expr("id div 9").as("item"), i.as("i"))
    val slice = (s: String) => rows.filter($"seg" === s)
    val ksRef = rows.filter($"i" < 15); val ksBatch = rows.filter($"i" >= 15)
    val dir = java.nio.file.Files.createTempDirectory("ksslice").toString
    Quantiles.storeAppendBy(ksRef, s"$dir/by", "b0", Seq("seg"), "y", 1L)
    val segs = Seq("s0", "s1", "s2")
    segs.foreach(s => Quantiles.storeAppend(ksRef.filter($"seg" === s),
      s"$dir/$s", "b0", "y", 1L))
    val ka = "cast(x % 3 as string)"; val kp = "cast(y % 3 as string)"
    val success = "(x + y) % 2 = 0"
    // (card, grouped output, the ungrouped card on one segment's slice)
    val cards: Seq[(String, DataFrame, String => DataFrame)] = Seq(
      ("kappa", Stats.kappa(rows, Seq("seg"), ka, kp),
        s => Stats.kappa(slice(s), ka, kp)),
      ("chi2x2", Stats.chi2x2(rows, Seq("seg"), "a", "b"),
        s => Stats.chi2x2(slice(s), "a", "b")),
      ("gkLambda", Stats.gkLambda(rows, Seq("seg"), ka, kp),
        s => Stats.gkLambda(slice(s), ka, kp)),
      ("spearman", Stats.spearman(rows, Seq("seg"), "x", "y"),
        s => Stats.spearman(slice(s), "x", "y")),
      ("kruskalWallis",
        Stats.kruskalWallis(rows, Seq("seg"), "y", "g", Seq("p", "q", "r")),
        s => Stats.kruskalWallis(slice(s), "y", "g", Seq("p", "q", "r"))),
      ("cochranQ",
        Stats.cochranQ(rows, Seq("seg"), "item", "g", success, k = 3),
        s => Stats.cochranQ(slice(s), "item", "g", success, k = 3)),
      ("kendallCells", Stats.kendallCells(rows, Seq("seg"), "x", "y"),
        s => Stats.kendallCells(slice(s), "x", "y")),
      ("ksDrift", Stats.ksDriftFromStoreBy(spark, s"$dir/by", Seq("seg"),
          ksBatch, "x", 1L, 1L, 4L),
        s => Stats.ksDriftFromStore(spark, s"$dir/$s",
          ksBatch.filter($"seg" === s), "x", 1L, 1L, 4L)))
    cards.foreach { case (name, grouped, solo) =>
      val by = grouped.collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
      assert(by.keySet === segs.toSet, name)
      segs.foreach { s =>
        assert(by(s) === solo(s).collect().head.toSeq,
          s"$name: segment $s must equal the ungrouped card on its slice")
      }
    }
  }

  // ---------------------------------------------- KS drift from store

  test("ksDriftFromStore: identical batch is flat, shifted batch drifts") {
    val store = java.nio.file.Files.createTempDirectory("ksdrift")
      .toString + "/st"
    Quantiles.storeAppend((0L until 10L).toDF("v"), store, "b0", "v", 2L)
    val same = Stats.ksDriftFromStore(spark, store,
      (0L until 10L).toDF("v"), "v", 2L, 1L, 2L).collect().head
    assert(same.getAs[Long]("ks_num") === 0L)
    assert(same.getAs[Double]("d") === 0.0)
    assert(!same.getAs[Boolean]("drift"))
    val shifted = Stats.ksDriftFromStore(spark, store,
      (10L until 20L).toDF("v"), "v", 2L, 1L, 2L).collect().head
    // disjoint supports: D = 1 at the reference's last bucket (4)
    assert(shifted.getAs[Long]("ks_num") === 100L)
    assert(shifted.getAs[Long]("ks_den") === 100L)
    assert(shifted.getAs[Double]("d") === 1.0)
    assert(shifted.getAs[Long]("at_bucket") === 4L)
    assert(shifted.getAs[Boolean]("drift"))
    // an empty batch, or a reference cut before the store's first tag,
    // routes to review (NULL), never reads as a pass
    val noBatch = Stats.ksDriftFromStore(spark, store,
      (0L until 10L).toDF("v").limit(0), "v", 2L, 1L, 2L).collect().head
    assert(noBatch.getAs[Long]("n_batch") === 0L)
    assert(noBatch.isNullAt(noBatch.fieldIndex("d")))
    assert(noBatch.isNullAt(noBatch.fieldIndex("drift")))
    val noRef = Stats.ksDriftFromStoreBefore(spark, store, "b0",
      (0L until 10L).toDF("v"), "v", 2L, 1L, 2L).collect().head
    assert(noRef.getAs[Long]("n_ref") === 0L)
    assert(noRef.isNullAt(noRef.fieldIndex("d")))
    assert(noRef.isNullAt(noRef.fieldIndex("drift")))
  }

  test("tvdDriftFromStore: exact L1 displacement; sees what KS's sup underrates") {
    val store = java.nio.file.Files.createTempDirectory("tvd")
      .toString + "/st"
    // ref occupies buckets {0, 2, 4, 6}, batch {1, 3, 5, 7}: every
    // OTHER bucket leaks — KS's sup reads 0.5, TVD reads the truth (1.0)
    val ref = (0 until 40).map(i => (i % 4) * 2L).toDF("v")
    Quantiles.storeAppend(ref, store, "b0", "v", 1L)
    val batch = (0 until 40).map(i => (i % 4) * 2L + 1L).toDF("v")
    val r = Stats.tvdDriftFromStore(spark, store, batch, "v", 1L, 1L, 2L)
      .collect().head
    assert(r.getAs[Long]("n_ref") === 40L && r.getAs[Long]("n_batch") === 40L)
    assert(r.getAs[Long]("tvd_num") === 3200L) // 8 buckets × |10·40 − 0|
    assert(r.getAs[Long]("tvd_den") === 3200L)
    assert(r.getAs[Double]("tvd") === 1.0)
    assert(r.getAs[Boolean]("drift"))
    val ks = Stats.ksDriftFromStore(spark, store, batch, "v", 1L, 1L, 2L)
      .collect().head
    assert(ks.getAs[Double]("d") === 0.25,
      "KS underrates the oscillating leak TVD catches")
    // identical batch: zero displacement, no drift
    val same = Stats.tvdDriftFromStore(spark, store, ref, "v", 1L, 1L, 2L)
      .collect().head
    assert(same.getAs[Long]("tvd_num") === 0L)
    assert(same.getAs[Double]("tvd") === 0.0)
    assert(!same.getAs[Boolean]("drift"))
    // an EMPTY batch routes to review (NULL), never reads as a pass —
    // the grouped-KS contract
    val empty = Stats.tvdDriftFromStore(spark, store, ref.limit(0), "v",
      1L, 1L, 2L).collect().head
    assert(empty.getAs[Long]("n_batch") === 0L)
    assert(empty.isNullAt(empty.fieldIndex("drift")))
    assert(empty.isNullAt(empty.fieldIndex("tvd")))
  }

  test("ksDriftFromStoreBy: per-group verdicts; a reference-less group is NULL") {
    val store = java.nio.file.Files.createTempDirectory("ksby")
      .toString + "/st"
    val ref = ((0L until 10L).map(v => ("flat", v)) ++
      (0L until 10L).map(v => ("shift", v))).toDF("g", "v")
    Quantiles.storeAppendBy(ref, store, "b0", Seq("g"), "v", 2L)
    val batch = ((0L until 10L).map(v => ("flat", v)) ++
      (10L until 20L).map(v => ("shift", v)) ++
      (0L until 5L).map(v => ("brand_new", v))).toDF("g", "v")
    val out = Stats.ksDriftFromStoreBy(spark, store, Seq("g"), batch,
        "v", 2L, 1L, 2L)
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(!out("flat").getAs[Boolean]("drift"))
    assert(out("flat").getAs[Double]("d") === 0.0)
    assert(out("shift").getAs[Boolean]("drift"))
    assert(out("shift").getAs[Double]("d") === 1.0)
    val nw = out("brand_new")
    assert(nw.getAs[Long]("n_ref") === 0L)
    assert(nw.isNullAt(nw.fieldIndex("d")), "no reference → review, not pass")
    assert(nw.isNullAt(nw.fieldIndex("drift")))
  }

  test("ksDriftFromStore: threshold verdict is the integer compare") {
    val store = java.nio.file.Files.createTempDirectory("ksthr")
      .toString + "/st"
    Quantiles.storeAppend((0L until 4L).toDF("v"), store, "b0", "v", 1L)
    // batch {0,1,2,7}: max diff at bucket 2: |3·4 − 3·4| = 0… compute:
    // ref cum 1,2,3,4 (buckets 0..3); batch cum 1,2,3 at 0..2, 4 at 7.
    // diff at bucket 3: |4·4 − 3·4| = 4 → d = 4/16 = 0.25
    val b = Seq(0L, 1L, 2L, 7L).toDF("v")
    val strict = Stats.ksDriftFromStore(spark, store, b, "v", 1L, 1L, 5L)
      .collect().head // 0.25 > 0.2 → drift
    assert(strict.getAs[Long]("ks_num") === 4L)
    assert(strict.getAs[Boolean]("drift"))
    val loose = Stats.ksDriftFromStore(spark, store, b, "v", 1L, 1L, 4L)
      .collect().head // 0.25 > 0.25 is false — strict inequality
    assert(!loose.getAs[Boolean]("drift"))
  }
}
