package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical testing — the hypothesis-test cards a data pipeline
  * reads before trusting a corpus change: rank-sum (did the new
  * source shift the length/value distribution?), Kolmogorov–Smirnov
  * (where exactly do two distributions diverge?), Cohen's kappa (does
  * the cheap classifier agree with ground truth beyond chance?), a
  * 2×2 chi-square (are two boolean properties associated?),
  * Goodman–Kruskal lambda (how much does knowing X reduce error
  * predicting Y?), Spearman rank correlation (are two per-entity
  * metrics monotonically related?), and a KS drift monitor fed by the
  * additive histogram store (is today's batch distributed like the
  * corpus the model was trained on?).
  *
  * Every statistic here is EXACT-RATIONAL in the engine's exactness
  * discipline: counts, doubled midranks (midranks of tied values are
  * half-integers — doubling makes every rank sum an integer), and
  * integer cross-products aggregated in DECIMAL, with one final
  * double division (plus IEEE-exact `sqrt` where a test demands it,
  * the same allowance [[Abtest]]'s z uses). No `ln`/`exp`/erf — the
  * cards emit the exact integer numerator/denominator next to the
  * quotient so two engines (and two runs) hash-match bit-for-bit.
  *
  * Scale: everything aggregates to value-cardinality- or
  * class-cardinality-bounded relations before any window runs. The
  * rank-based tests' single cumulative pass is over the DISTINCT
  * value axis (the histogram family's convention — quantize the
  * value expression to bound it; ranks over a quantized value are the
  * midranks of the quantized test, still exact). That contract is
  * CHECKED, not advisory: every rank window counts its distinct axis
  * on the same exchange and fails loudly above
  * [[Stats.MaxRankAxisKey]] (default 2^22) instead of letting an
  * unquantized high-cardinality value single-partition-sort a 100×
  * corpus. Long-emitted numerators document their bounds; grouped
  * forms keep each group under them.
  *
  * Every card with a grouped form has one body, which takes
  * `groupCols`: one row per group, and with `Nil` the one-row
  * whole-input card (one row even on an empty input). The forms
  * without `groupCols` pass `Nil`.
  */
object Stats {

  /** Session conf key for the per-group distinct-value-axis ceiling
    * the rank windows enforce ([[DefaultMaxRankAxis]] when unset). A
    * window over more distinct values than this is a scale bug, not a
    * statistics question — the loud failure tells the caller to
    * quantize (ranks over a quantized value are the quantized test's
    * exact midranks). */
  val MaxRankAxisKey = "graft.stats.maxRankAxis"

  /** Default distinct-value-axis ceiling: 2^22 ≈ 4.2M distinct values
    * per group — comfortably one executor's sort, far above any
    * sanely-quantized metric axis. */
  val DefaultMaxRankAxis: Long = 1L << 22

  /** Loud axis-cardinality check riding an existing unbounded window
    * (`wAll` must partition exactly like the rank window): evaluates
    * to 0L when the group's distinct-value count is within the
    * ceiling, raises otherwise. Added to a rank/cumulative column so
    * it is evaluated wherever ranks are consumed, at zero plan cost
    * (same exchange, no extra scan). */
  private def axisGuard(df: DataFrame,
                        wAll: org.apache.spark.sql.expressions.WindowSpec)
                       : org.apache.spark.sql.Column = {
    val maxAxis = df.sparkSession.conf
      .get(MaxRankAxisKey, DefaultMaxRankAxis.toString).toLong
    coalesce(
      assert_true(count(lit(1)).over(wAll) <= lit(maxAxis),
        lit(s"Stats: distinct value axis exceeds $MaxRankAxisKey=" +
          s"$maxAxis for one group — quantize the value expression " +
          "(ranks over a quantized value are the quantized test's " +
          "exact midranks)")).cast("long"),
      lit(0L))
  }

  /** Distinct-value pooled counts with cumulative + total windows:
    * (groupCols..., v, cnt, cnt_a, cum, cum_a, n, n_a). The window
    * runs over distinct values only, and the [[axisGuard]] on `cum`
    * enforces the quantization contract (adds exact 0L when within the
    * ceiling, fails loudly when a group's axis is unquantized). */
  private def ranked(df: DataFrame, groupCols: Seq[String]): DataFrame = {
    val gc = groupCols.map(col)
    val pc = df.groupBy((gc :+ col("v")): _*)
      .agg(count(lit(1)).cast("long").as("cnt"),
        sum(col("a")).cast("long").as("cnt_a"))
    val wCum = Window.partitionBy(gc: _*).orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(gc: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    pc.withColumn("cum", sum(col("cnt")).over(wCum) + axisGuard(pc, wAll))
      .withColumn("cum_a", sum(col("cnt_a")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .withColumn("n_a", sum(col("cnt_a")).over(wAll))
  }

  private def prep(df: DataFrame, groupCols: Seq[String], valueExpr: String,
                   isAExpr: String): DataFrame =
    df.select((groupCols.map(col) :+
      expr(valueExpr).cast("long").as("v") :+
      when(expr(isAExpr), 1L).otherwise(0L).as("a")): _*)

  /** Mann–Whitney rank-sum test: is arm A's value distribution
    * stochastically shifted vs arm B's? (Mann & Whitney 1947; the
    * nonparametric two-sample test that needs no normality — the right
    * readout for heavy-tailed value/latency/length metrics where the
    * t-test's mean is meaningless.)
    *
    * Doubled midrank of distinct value v = 2·cum(v) − cnt(v) + 1 (an
    * integer even under ties); `u2_a` = 2·U_A = Σ_A doubled-ranks −
    * n_a·(n_a+1) — the EXACT test statistic in half-units. z is the
    * tie-corrected normal approximation
    * (U − n_a·n_b/2)/sqrt(Var), Var = n_a·n_b·[(n+1)·n·(n−1) − Σ(t³−t)]
    * / (12·n·(n−1)), evaluated as one division of two DECIMAL-exact
    * integers under an IEEE sqrt. NULL z on an empty arm or an
    * all-tied pool.
    *
    * Long-fit bounds on emitted columns: u2_a ≤ 2n², tie_t ≤ n³ —
    * long-safe to n ≈ 2M rows per group (group or quantize beyond;
    * the internal variance product is DECIMAL(38), safe to n ≈ 10^7).
    *
    * @return groupCols..., n_a, n_b, u2_a (= 2·U_A, exact), u_a,
    *         tie_t (= Σ t³−t), z */
  def mannWhitney(df: DataFrame, groupCols: Seq[String], valueExpr: String,
                  isAExpr: String): DataFrame = {
    val gc = groupCols.map(col)
    val r = ranked(prep(df, groupCols, valueExpr, isAExpr), groupCols)
      .withColumn("d2", lit(2L) * col("cum") - col("cnt") + 1L)
    val agg = r.groupBy(gc: _*).agg(
      max(col("n")).as("n"), max(col("n_a")).as("n_a"),
      sum(col("cnt_a").cast("decimal(19,0)") * col("d2").cast("decimal(19,0)"))
        .cast("decimal(38,0)").as("r2a"),
      sum((col("cnt").cast("decimal(19,0)") * col("cnt").cast("decimal(19,0)")
          * col("cnt").cast("decimal(19,0)") - col("cnt").cast("decimal(19,0)"))
        .cast("decimal(38,0)")).cast("decimal(38,0)").as("tie_t"))
    val nA = col("n_a"); val nB = col("n") - col("n_a")
    val u2 = (col("r2a") - (nA.cast("decimal(19,0)") *
      (nA + 1L).cast("decimal(19,0)")).cast("decimal(38,0)"))
      .cast("decimal(38,0)")
    val vNum = ((nA.cast("decimal(19,0)") * nB.cast("decimal(19,0)"))
      .cast("decimal(38,0)") *
      (((col("n") + 1L).cast("decimal(19,0)") * col("n").cast("decimal(19,0)"))
        .cast("decimal(38,0)") * (col("n") - 1L).cast("decimal(19,0)")
        - col("tie_t")).cast("decimal(38,0)")).cast("decimal(38,0)")
    val vDen = lit(3L) * col("n") * (col("n") - 1L)
    agg.select((gc :+ nA.as("n_a") :+ nB.as("n_b") :+
      u2.cast("long").as("u2_a") :+
      (u2.cast("double") / lit(2.0)).as("u_a") :+
      col("tie_t").cast("long").as("tie_t") :+
      when(nA === 0L || nB === 0L || vNum === lit(0).cast("decimal(38,0)"),
        lit(null).cast("double"))
        .otherwise((u2.cast("double") - (nA * nB).cast("double")) /
          sqrt(vNum.cast("double") / vDen.cast("double"))).as("z")): _*)
  }

  /** Two-sample Kolmogorov–Smirnov: D = sup_x |F_A(x) − F_B(x)|,
    * attained at a pooled data point, so evaluated exactly over the
    * distinct-value axis: ks_num = max |cum_a·n_b − cum_b·n_a|,
    * ks_den = n_a·n_b, and `at_v` the SMALLEST value attaining the
    * max (deterministic argmax tie-break). Unlike a mean-shift test,
    * D localizes WHERE two distributions diverge — the drift-triage
    * card. d is NULL (den 0) on an empty arm.
    *
    * @return groupCols..., n_a, n_b, ks_num, ks_den, d, at_v */
  def ksTest(df: DataFrame, groupCols: Seq[String], valueExpr: String,
             isAExpr: String): DataFrame = {
    val gc = groupCols.map(col)
    val r = ranked(prep(df, groupCols, valueExpr, isAExpr), groupCols)
      .withColumn("diff_num",
        abs(col("cum_a") * (col("n") - col("n_a")) -
          (col("cum") - col("cum_a")) * col("n_a")))
    r.groupBy(gc: _*).agg(
        max(col("n_a")).as("n_a"),
        (max(col("n")) - max(col("n_a"))).as("n_b"),
        max(col("diff_num")).as("ks_num"),
        max_by(col("v"), struct(col("diff_num"), negate(col("v"))))
          .as("at_v"))
      .select((gc :+ col("n_a") :+ col("n_b") :+ col("ks_num") :+
        (col("n_a") * col("n_b")).as("ks_den") :+
        when(col("n_a") === 0L || col("n_b") === 0L, lit(null).cast("double"))
          .otherwise(col("ks_num").cast("double") /
            (col("n_a") * col("n_b")).cast("double")).as("d") :+
        col("at_v")): _*)
  }

  /** Rank-biserial correlation (= Cliff's delta): the EFFECT SIZE for
    * the rank-sum test — r_rb = 2U_A/(n_a·n_b) − 1 ∈ [−1, 1], the
    * probability a random A value beats a random B value minus the
    * reverse. The number to report NEXT TO [[mannWhitney]]'s z: at
    * corpus scale everything is "significant"; this says whether the
    * shift is big enough to care. Exact: one division of the doubled-U
    * integer. NULL on an empty arm.
    *
    * @return groupCols..., n_a, n_b, u2_a, rank_biserial */
  def rankBiserial(df: DataFrame, groupCols: Seq[String], valueExpr: String,
                   isAExpr: String): DataFrame = {
    val gc = groupCols.map(col)
    mannWhitney(df, groupCols, valueExpr, isAExpr)
      .select((gc :+ col("n_a") :+ col("n_b") :+ col("u2_a") :+
        when(col("n_a") === 0L || col("n_b") === 0L,
          lit(null).cast("double"))
          .otherwise(col("u2_a").cast("double") /
            (col("n_a") * col("n_b")).cast("double") - lit(1.0))
          .as("rank_biserial")): _*)
  }

  /** Joins two per-group frames on `groupCols`. Over no group columns
    * both are one-row whole-input aggregates, so the join is a cross
    * join (inner, left-outer and cross give the same row). */
  private def joinGroups(l: DataFrame, r: DataFrame, groupCols: Seq[String],
                         how: String = "inner"): DataFrame =
    if (groupCols.isEmpty) l.crossJoin(r) else l.join(r, groupCols, how)

  /** The whole-input card broadcasts its distinct-value-sized side
    * (rank tables, the cell pair side, the excluded-row count); a
    * grouped card leaves it to shuffle on the group, co-partitioned
    * with the row side. */
  private def broadcastIfGlobal(df: DataFrame,
                                groupCols: Seq[String]): DataFrame =
    if (groupCols.isEmpty) broadcast(df) else df

  /** The four boolean-cell counts o11, o10, o01, o00 of the 2×2 table
    * `a` × `b`, each 0 (not NULL) on an empty input. */
  private def cells2x2(a: Column, b: Column): Seq[Column] =
    Seq("o11" -> (a && b), "o10" -> (a && !b), "o01" -> (!a && b),
      "o00" -> (!a && !b)).map { case (name, c) =>
      coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L)).cast("long").as(name)
    }

  /** Exact odds ratio for a 2×2 table — [[chi2x2]]'s effect-size
    * companion: OR = (o11·o00)/(o10·o01) as an exact integer fraction
    * plus one division. NULL when a discordant cell is empty (the
    * fraction is undefined/infinite; report the counts and decide —
    * no Haldane fudge baked in silently).
    *
    * @return one row: n, o11, o10, o01, o00, or_num, or_den,
    *         odds_ratio */
  def oddsRatio2x2(df: DataFrame, aExpr: String, bExpr: String): DataFrame = {
    val cells = cells2x2(col("a"), col("b"))
    df.select(expr(aExpr).cast("boolean").as("a"),
        expr(bExpr).cast("boolean").as("b"))
      .agg(cells.head, cells.tail: _*)
      .select(
        (col("o11") + col("o10") + col("o01") + col("o00")).as("n"),
        col("o11"), col("o10"), col("o01"), col("o00"),
        ((col("o11").cast("decimal(19,0)") * col("o00").cast("decimal(19,0)"))
          .cast("decimal(38,0)")).cast("long").as("or_num"),
        ((col("o10").cast("decimal(19,0)") * col("o01").cast("decimal(19,0)"))
          .cast("decimal(38,0)")).cast("long").as("or_den"),
        when((col("o10") === 0L) || (col("o01") === 0L),
          lit(null).cast("double"))
          .otherwise(
            ((col("o11").cast("decimal(19,0)") *
              col("o00").cast("decimal(19,0)")).cast("decimal(38,0)"))
              .cast("double") /
            ((col("o10").cast("decimal(19,0)") *
              col("o01").cast("decimal(19,0)")).cast("decimal(38,0)"))
              .cast("double")).as("odds_ratio"))
  }

  /** Cohen's kappa (Cohen 1960): agreement between two labelings
    * beyond chance — THE eval card for a cheap heuristic classifier
    * against ground truth (raw accuracy flatters any classifier that
    * just predicts the majority class; kappa debits chance agreement).
    * kappa = (N·Σ O_kk − Σ r_k·c_k) / (N² − Σ r_k·c_k) — all integer
    * but the final division. Marginal products aggregate over the
    * CLASS axis (cardinality-bounded). NULL kappa when chance
    * agreement is total (den 0). Long-safe to N ≈ 3·10^9 rows.
    *
    * Grouped, one agreement card per group (the per-source
    * classifier-drift screen: which ingest source is the heuristic
    * quietly failing on?); groups with no class present in both
    * labelings get pe_num = 0 via the outer join (never dropped).
    *
    * @return per group: groupCols..., n, n_agree, pe_num
    *         (= Σ r_k·c_k), kappa_num, kappa_den, kappa */
  def kappa(df: DataFrame, groupCols: Seq[String], actualExpr: String,
            predExpr: String): DataFrame = {
    val gc = groupCols.map(col)
    val cells = df
      .select((gc :+ expr(actualExpr).as("ka") :+ expr(predExpr).as("kp")): _*)
      .groupBy((gc :+ col("ka") :+ col("kp")): _*)
      .agg(count(lit(1)).cast("long").as("cnt"))
      .persist()
    val rm = cells.groupBy((gc :+ col("ka").as("k")): _*)
      .agg(sum(col("cnt")).as("r"))
    val cm = cells.groupBy((gc :+ col("kp").as("k")): _*)
      .agg(sum(col("cnt")).as("c"))
    val pe = rm.join(cm, groupCols :+ "k")
      .groupBy(gc: _*)
      .agg(coalesce(sum((col("r").cast("decimal(19,0)") *
          col("c").cast("decimal(19,0)")).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).cast("decimal(38,0)").as("pe0"))
    val tot = cells.groupBy(gc: _*).agg(
      coalesce(sum(col("cnt")), lit(0L)).cast("long").as("n"),
      coalesce(sum(when(col("ka") === col("kp"), col("cnt")).otherwise(0L)),
        lit(0L)).cast("long").as("n_agree"))
    val j = joinGroups(tot, pe, groupCols, "left_outer")
      .withColumn("pe_num",
        coalesce(col("pe0"), lit(0).cast("decimal(38,0)")))
    val num = ((col("n").cast("decimal(19,0)") *
      col("n_agree").cast("decimal(19,0)")).cast("decimal(38,0)") -
      col("pe_num")).cast("decimal(38,0)")
    val den = ((col("n").cast("decimal(19,0)") *
      col("n").cast("decimal(19,0)")).cast("decimal(38,0)") -
      col("pe_num")).cast("decimal(38,0)")
    j.select((gc :+ col("n") :+ col("n_agree") :+
      col("pe_num").cast("long").as("pe_num") :+
      num.cast("long").as("kappa_num") :+ den.cast("long").as("kappa_den") :+
      when(den === lit(0).cast("decimal(38,0)"), lit(null).cast("double"))
        .otherwise(num.cast("double") / den.cast("double")).as("kappa")): _*)
  }

  def kappa(df: DataFrame, actualExpr: String, predExpr: String): DataFrame =
    kappa(df, Nil, actualExpr, predExpr)

  /** 2×2 chi-square association between two boolean properties —
    * exact-rational in the 2×2 case: chi2 = N·det² / (r1·r0·c1·c0)
    * with det = o11·o00 − o10·o01 (the general r×c chi-square's
    * per-cell denominators don't share a bounded common denominator;
    * the 2×2 determinant form does). phi = det / (√(r1·r0)·√(c1·c0))
    * is the signed ±1-bounded effect size. NULL on any zero margin.
    * DECIMAL(38)-exact to N ≈ 3·10^7 per table (group beyond).
    *
    * Grouped, one association card per group (the per-segment
    * interaction screen: does "converted × long-doc" association hold
    * in every segment, or is one driving it — Simpson's-paradox
    * triage); each group's table aggregates map-side to four counts.
    *
    * @return per group: groupCols..., n, o11, o10, o01, o00, det,
    *         chi2, phi */
  def chi2x2(df: DataFrame, groupCols: Seq[String], aExpr: String,
             bExpr: String): DataFrame = {
    val gc = groupCols.map(col)
    val cells = cells2x2(col("a"), col("b"))
    val agg = df.select((gc :+ expr(aExpr).cast("boolean").as("a") :+
        expr(bExpr).cast("boolean").as("b")): _*)
      .groupBy(gc: _*).agg(cells.head, cells.tail: _*)
    val n = col("o11") + col("o10") + col("o01") + col("o00")
    val det = ((col("o11").cast("decimal(19,0)") * col("o00").cast("decimal(19,0)"))
      .cast("decimal(38,0)") -
      (col("o10").cast("decimal(19,0)") * col("o01").cast("decimal(19,0)"))
        .cast("decimal(38,0)")).cast("decimal(38,0)")
    val r1 = col("o11") + col("o10"); val r0 = col("o01") + col("o00")
    val c1 = col("o11") + col("o01"); val c0 = col("o10") + col("o00")
    val chiNum = (n.cast("decimal(19,0)") * (det * det).cast("decimal(38,0)"))
      .cast("decimal(38,0)")
    val chiDen = ((r1.cast("decimal(19,0)") * r0.cast("decimal(19,0)"))
      .cast("decimal(38,0)") *
      (c1.cast("decimal(19,0)") * c0.cast("decimal(19,0)")).cast("decimal(38,0)"))
      .cast("decimal(38,0)")
    val degenerate = r1 === 0L || r0 === 0L || c1 === 0L || c0 === 0L
    agg.select((gc :+ n.as("n") :+ col("o11") :+ col("o10") :+ col("o01") :+
      col("o00") :+ det.cast("long").as("det") :+
      when(degenerate, lit(null).cast("double"))
        .otherwise(chiNum.cast("double") / chiDen.cast("double")).as("chi2") :+
      when(degenerate, lit(null).cast("double"))
        .otherwise(det.cast("double") /
          (sqrt((r1 * r0).cast("double")) * sqrt((c1 * c0).cast("double"))))
        .as("phi")): _*)
  }

  def chi2x2(df: DataFrame, aExpr: String, bExpr: String): DataFrame =
    chi2x2(df, Nil, aExpr, bExpr)

  /** Goodman–Kruskal lambda (1954): proportional reduction in error
    * predicting Y once X is known — the general-r×c association card
    * that stays integer-exact (unlike the general chi-square):
    * lambda = (Σ_x max_y O_xy − max_y c_y) / (N − max_y c_y). 0 = X
    * tells you nothing; 1 = X determines Y. NULL when Y is constant
    * (den 0). Aggregates over the (x,y) cell axis only.
    *
    * Grouped, one card per group (does the predictor's value hold
    * across segments, or only where one segment's majority class
    * happens to align?). Inner joins are safe: every group has at
    * least one cell in each derived relation.
    *
    * @return per group: groupCols..., n, sum_modal (= Σ_x max_y O_xy),
    *         modal_y (the majority-class count max_y c_y), lambda_num,
    *         lambda_den, lambda_gk */
  def gkLambda(df: DataFrame, groupCols: Seq[String], xExpr: String,
               yExpr: String): DataFrame = {
    val gc = groupCols.map(col)
    val cells = df
      .select((gc :+ expr(xExpr).as("x") :+ expr(yExpr).as("y")): _*)
      .groupBy((gc :+ col("x") :+ col("y")): _*)
      .agg(count(lit(1)).cast("long").as("cnt"))
      .persist()
    val perX = cells.groupBy((gc :+ col("x")): _*)
      .agg(max(col("cnt")).as("mx"))
      .groupBy(gc: _*)
      .agg(coalesce(sum(col("mx")), lit(0L)).cast("long").as("sum_modal"))
    val perY = cells.groupBy((gc :+ col("y")): _*)
      .agg(sum(col("cnt")).as("cy"))
      .groupBy(gc: _*)
      .agg(coalesce(max(col("cy")), lit(0L)).cast("long").as("modal_y"))
    val tot = cells.groupBy(gc: _*)
      .agg(coalesce(sum(col("cnt")), lit(0L)).cast("long").as("n"))
    joinGroups(joinGroups(tot, perX, groupCols), perY, groupCols)
      .select((gc :+ col("n") :+ col("sum_modal") :+ col("modal_y") :+
        (col("sum_modal") - col("modal_y")).as("lambda_num") :+
        (col("n") - col("modal_y")).as("lambda_den") :+
        when(col("n") === col("modal_y"), lit(null).cast("double"))
          .otherwise((col("sum_modal") - col("modal_y")).cast("double") /
            (col("n") - col("modal_y")).cast("double")).as("lambda_gk")): _*)
  }

  def gkLambda(df: DataFrame, xExpr: String, yExpr: String): DataFrame =
    gkLambda(df, Nil, xExpr, yExpr)

  /** Spearman rank correlation between two long-valued columns of one
    * relation — Pearson over doubled midranks, so ties are handled
    * exactly and every sum is an integer: rho = (n·Σdxdy − Σdx·Σdy) /
    * (√(n·Σdx²−(Σdx)²)·√(n·Σdy²−(Σdy)²)). The monotone-association
    * card (is doc length related to quality score? user activity to
    * spend?) that Pearson's raw-value covariance gets wrong under
    * heavy tails. Per-axis rank tables are distinct-value-sized and
    * broadcast back onto the rows. Emitted integer pieces are
    * DECIMAL-exact and long-emitted — long-safe to n ≈ 38k rows per
    * relation (this targets per-entity AGGREGATE relations, which are
    * entity-bounded; group or sample beyond).
    *
    * Grouped, one card per group (is the activity↔spend relation the
    * same every day-of-week / per segment?). Rank tables partition by
    * the group, so each group's distinct-value pass is independent and
    * the [[axisGuard]] ceiling applies per group; no broadcast hint —
    * the rank join shuffles on (group, value), co-partitioned with the
    * row side.
    *
    * @return per group: groupCols..., n, s_xy (= n·Σdxdy − Σdx·Σdy),
    *         s_x, s_y, rho */
  def spearman(df: DataFrame, groupCols: Seq[String], xExpr: String,
               yExpr: String): DataFrame = {
    val gc = groupCols.map(col)
    val base = df.select((gc :+ expr(xExpr).cast("long").as("x") :+
      expr(yExpr).cast("long").as("y")): _*)
    def rankTable(c: String): DataFrame = {
      val w = Window.partitionBy(gc: _*).orderBy(col(c).asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy(gc: _*)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val t = base.groupBy((gc :+ col(c)): _*)
        .agg(count(lit(1)).cast("long").as("cnt"))
      broadcastIfGlobal(
        t.withColumn("cum", sum(col("cnt")).over(w) + axisGuard(t, wAll))
          .select((gc :+ col(c) :+
            (lit(2L) * col("cum") - col("cnt") + 1L).as(s"d$c")): _*),
        groupCols)
    }
    val withRanks = base
      .join(rankTable("x"), groupCols :+ "x")
      .join(rankTable("y"), groupCols :+ "y")
    val dx = col("dx").cast("decimal(19,0)")
    val dy = col("dy").cast("decimal(19,0)")
    val agg = withRanks.groupBy(gc: _*).agg(
      count(lit(1)).cast("long").as("n"),
      sum(dx).cast("decimal(38,0)").as("sdx"),
      sum(dy).cast("decimal(38,0)").as("sdy"),
      sum((dx * dy).cast("decimal(38,0)")).cast("decimal(38,0)").as("sxy"),
      sum((dx * dx).cast("decimal(38,0)")).cast("decimal(38,0)").as("sxx"),
      sum((dy * dy).cast("decimal(38,0)")).cast("decimal(38,0)").as("syy"))
    val nD = col("n").cast("decimal(19,0)")
    val num = (nD * col("sxy") - (col("sdx") * col("sdy")).cast("decimal(38,0)"))
      .cast("decimal(38,0)")
    val sx = (nD * col("sxx") - (col("sdx") * col("sdx")).cast("decimal(38,0)"))
      .cast("decimal(38,0)")
    val sy = (nD * col("syy") - (col("sdy") * col("sdy")).cast("decimal(38,0)"))
      .cast("decimal(38,0)")
    agg.select((gc :+ col("n") :+ num.cast("long").as("s_xy") :+
      sx.cast("long").as("s_x") :+ sy.cast("long").as("s_y") :+
      when(sx === lit(0).cast("decimal(38,0)") ||
          sy === lit(0).cast("decimal(38,0)"), lit(null).cast("double"))
        .otherwise(num.cast("double") /
          (sqrt(sx.cast("double")) * sqrt(sy.cast("double")))).as("rho")): _*)
  }

  def spearman(df: DataFrame, xExpr: String, yExpr: String): DataFrame =
    spearman(df, Nil, xExpr, yExpr)

  /** Kruskal–Wallis H (1952): the k-GROUP extension of
    * [[mannWhitney]] — did ANY of k named sources/arms shift the value
    * distribution? Midranks are doubled (integer under ties, the
    * engine's rank convention); per-group rank masses r2_g = Σ doubled
    * ranks are EXACT longs, and H is assembled from them in ONE
    * deterministic left-to-right double expression over the CALLER'S
    * group order (groups are named explicitly, the [[benfordDigits]]
    * fixed-domain convention — no order-nondeterministic float
    * aggregation anywhere):
    * H = 3·Σ_g (r2_g²/(4·n_g))·4/(n(n+1)) − 3(n+1), tie-corrected by
    * 1 − ΣT/(n³−n). NULL h when any named group is empty or the pool
    * is all-tied. Values outside the named groups are EXCLUDED and
    * counted loudly in n_other.
    *
    * Grouped, one k-group omnibus card PER SEGMENT (which segment do
    * the named sources actually differ in?); windows partition by the
    * segment (each segment's distinct-value axis is independent and
    * axis-guarded). A segment whose rows are ALL outside the named
    * groups still emits a row (n = 0, NULL h — routed to review, never
    * dropped).
    *
    * @return per segment: groupCols..., n, n_other, n_<g>...,
    *         r2_<g>... (exact), tie_t, h, h_corrected */
  def kruskalWallis(df: DataFrame, groupCols: Seq[String],
                    valueExpr: String, groupExpr: String,
                    groups: Seq[String]): DataFrame = {
    require(groups.size >= 2 && groups.size <= 16,
      s"2..16 named groups, got ${groups.size}")
    require(groups.distinct.size == groups.size, "duplicate group names")
    val gc = groupCols.map(col)
    val d19 = "decimal(19,0)"; val d38 = "decimal(38,0)"
    val f = df.select((gc :+ expr(valueExpr).cast("long").as("v") :+
      expr(groupExpr).cast("string").as("g")): _*)
    val inG = col("g").isin(groups.map(_.asInstanceOf[Any]): _*)
    val other = f.groupBy(gc: _*).agg(
      coalesce(sum(when(!inG || col("g").isNull, 1L).otherwise(0L)),
        lit(0L)).cast("long").as("n_other"))
    val kept = f.filter(inG)
    // distinct-value pass (the ranked convention, axis-guarded):
    // per-(value) counts + per-(value, group) counts in one relation
    val pcAggs = count(lit(1)).cast("long").as("cnt") +:
      groups.map(g => sum(when(col("g") === g, 1L).otherwise(0L))
        .cast("long").as(s"cnt_$g"))
    val pc = kept.groupBy((gc :+ col("v")): _*)
      .agg(pcAggs.head, pcAggs.tail: _*)
    val wCum = Window.partitionBy(gc: _*).orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(gc: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = pc
      .withColumn("cum", sum(col("cnt")).over(wCum) + axisGuard(pc, wAll))
      .withColumn("d2", lit(2L) * col("cum") - col("cnt") + 1L)
    val aggCols =
      Seq(coalesce(sum(col("cnt")), lit(0L)).cast("long").as("n"),
        coalesce(sum((col("cnt").cast(d19) * col("cnt").cast(d19) *
            col("cnt").cast(d19) - col("cnt").cast(d19)).cast(d38)),
          lit(0).cast(d38)).cast(d38).as("tie_dec")) ++
      groups.flatMap { g =>
        Seq(coalesce(sum(col(s"cnt_$g")), lit(0L)).cast("long").as(s"n_$g"),
          coalesce(sum((col(s"cnt_$g").cast(d19) * col("d2").cast(d19))
              .cast(d38)), lit(0).cast(d38)).cast(d38)
            .cast("long").as(s"r2_$g"))
      }
    val agg = ranked.groupBy(gc: _*).agg(aggCols.head, aggCols.tail: _*)
    // every segment seen anywhere emits a row: left from `other`
    // (which sees all rows), zero-filled where no named-group rows
    val j = joinGroups(broadcastIfGlobal(other, groupCols), agg, groupCols,
        "left_outer")
      .select((gc :+ col("n_other") :+
        coalesce(col("n"), lit(0L)).as("n") :+
        coalesce(col("tie_dec"), lit(0).cast(d38)).as("tie_dec")) ++
        groups.flatMap(g => Seq(
          coalesce(col(s"n_$g"), lit(0L)).as(s"n_$g"),
          coalesce(col(s"r2_$g"), lit(0L)).as(s"r2_$g"))): _*)
    val n = col("n").cast("double")
    // Σ_g r2_g²/(4 n_g), folded in the caller's declared group order —
    // each term and the fold mirrored verbatim in the oracle SQL
    val sumTerms = groups.map { g =>
      (col(s"r2_$g").cast("double") * col(s"r2_$g").cast("double")) /
        (lit(4.0) * col(s"n_$g").cast("double"))
    }.reduce(_ + _)
    val h = lit(12.0) * sumTerms / (n * (n + lit(1.0))) -
      lit(3.0) * (n + lit(1.0))
    val tieFrac = col("tie_dec").cast("double") / (n * n * n - n)
    val anyEmpty = groups.map(g => col(s"n_$g") === 0L).reduce(_ || _)
    val allTied = (col("n").cast(d19) * col("n").cast(d19) *
      col("n").cast(d19) - col("n").cast(d19)).cast(d38) === col("tie_dec")
    val nullD = lit(null).cast("double")
    j.select(
      (gc ++ Seq(col("n"), col("n_other")) ++
        groups.map(g => col(s"n_$g")) ++ groups.map(g => col(s"r2_$g")) ++
        Seq(col("tie_dec").cast("long").as("tie_t"),
          when(anyEmpty, nullD).otherwise(h).as("h"),
          // nested guard: the tie divisor n³−n is 0 when n < 2
          when(anyEmpty || col("n") < 2L, nullD).otherwise(
            when(allTied, nullD)
              .otherwise(h / (lit(1.0) - tieFrac))).as("h_corrected"))): _*)
  }

  def kruskalWallis(df: DataFrame, valueExpr: String, groupExpr: String,
                    groups: Seq[String]): DataFrame =
    kruskalWallis(df, Nil, valueExpr, groupExpr, groups)

  /** Cochran's Q (1950): did ANY of k classifiers/treatments graded on
    * the SAME items differ — the k-way [[mcnemar]] (k = 2 reduces to
    * it). With column successes T_j, row successes u_i, N = ΣT_j:
    * Q = (k−1)·(k·ΣT_j² − N²) / (k·N − Σu_i²) — ENTIRELY integer but
    * the final division (no variance estimate, no normal machinery:
    * the cleanest exact-rational omnibus test there is). Input: one
    * row per (item, treatment, success 0/1); every item must carry all
    * k treatments — violations counted loudly in bad_items AND
    * EXCLUDED from every sum (n_success, sum_tj2, sum_ui2), so Q is
    * the statistic over the complete cases only: an item with a
    * duplicate or missing treatment cannot silently bias it (the
    * caller still sees bad_items > 0 and decides whether to trust the
    * complete-case Q at all). NULL q on a zero denominator (every
    * complete item all-success or all-failure: no discordance to
    * test).
    *
    * Grouped, one k-way agreement omnibus PER SEGMENT (which ingest
    * source do the k classifiers actually disagree on?), with the same
    * complete-case discipline per segment.
    *
    * @return per segment: groupCols..., k, n_items, bad_items,
    *         n_success (= N), sum_tj2 (= ΣT_j²), sum_ui2 (= Σu_i²) —
    *         all three sums over complete items only — q_num, q_den, q */
  def cochranQ(df: DataFrame, groupCols: Seq[String], itemExpr: String,
               treatmentExpr: String, successExpr: String,
               k: Int): DataFrame = {
    require(k >= 2, s"need >= 2 treatments, got $k")
    val gc = groupCols.map(col)
    val d19 = "decimal(19,0)"; val d38 = "decimal(38,0)"
    val cells = df.select((gc :+ expr(itemExpr).as("item") :+
        expr(treatmentExpr).as("t") :+
        when(expr(successExpr), 1L).otherwise(0L).as("s")): _*)
      .persist()
    val perItem = cells.groupBy((gc :+ col("item")): _*)
      .agg(count(lit(1)).cast("long").as("votes"),
        sum(col("s")).cast("long").as("u"))
    val items = perItem.groupBy(gc: _*).agg(
      count(lit(1)).cast("long").as("n_items"),
      coalesce(sum(when(col("votes") =!= k.toLong, 1L).otherwise(0L)),
        lit(0L)).cast("long").as("bad_items"),
      coalesce(sum(when(col("votes") === k.toLong,
          (col("u").cast(d19) * col("u").cast(d19)).cast(d38))
          .otherwise(lit(0).cast(d38))),
        lit(0).cast(d38)).cast(d38).cast("long").as("sum_ui2"))
    // per-treatment sums over COMPLETE items only (semi-join on the
    // item axis — item-hash-partitioned both sides, no skew hazard)
    val goodCells = cells.join(
      perItem.filter(col("votes") === k.toLong)
        .select((gc :+ col("item")): _*),
      groupCols :+ "item", "left_semi")
    val perT = goodCells.groupBy((gc :+ col("t")): _*)
      .agg(sum(col("s")).cast("long").as("tj"))
      .groupBy(gc: _*)
      .agg(coalesce(sum(col("tj")), lit(0L)).cast("long").as("n_success"),
        coalesce(sum((col("tj").cast(d19) * col("tj").cast(d19)).cast(d38)),
          lit(0).cast(d38)).cast(d38).cast("long").as("sum_tj2"))
    // a segment whose items are ALL incomplete has no perT row: left
    // join, zero-fill — it still emits (bad_items loud, NULL q)
    val j = joinGroups(items, perT, groupCols, "left_outer")
      .select((gc :+ col("n_items") :+ col("bad_items") :+
        col("sum_ui2") :+
        coalesce(col("n_success"), lit(0L)).as("n_success") :+
        coalesce(col("sum_tj2"), lit(0L)).as("sum_tj2")): _*)
    val qNum = (lit(k.toLong - 1L).cast(d19) *
      ((lit(k.toLong).cast(d19) * col("sum_tj2").cast(d19)).cast(d38) -
        (col("n_success").cast(d19) * col("n_success").cast(d19)).cast(d38))
        .cast(d38)).cast(d38)
    val qDen = lit(k.toLong) * col("n_success") - col("sum_ui2")
    j.select((gc :+ lit(k).as("k") :+ col("n_items") :+ col("bad_items") :+
      col("n_success") :+ col("sum_tj2") :+ col("sum_ui2") :+
      qNum.cast("long").as("q_num") :+ qDen.as("q_den") :+
      when(qDen === 0L, lit(null).cast("double"))
        .otherwise(qNum.cast("double") / qDen.cast("double")).as("q")): _*)
  }

  def cochranQ(df: DataFrame, itemExpr: String, treatmentExpr: String,
               successExpr: String, k: Int): DataFrame =
    cochranQ(df, Nil, itemExpr, treatmentExpr, successExpr, k)

  /** Kendall concordance over the QUANTIZED cell relation — the
    * ordinal-association card: concordant/discordant pair masses C, D
    * computed EXACTLY from (x, y, cnt) cells (one ordered-pair pass:
    * x1 < x2 vs both y directions, tie masses from the margins), then
    * Goodman–Kruskal gamma = (C − D)/(C + D) (pure rational — THE
    * number when ties abound) and Kendall tau-b =
    * (C − D)/√((n0 − n1)(n0 − n2)) (one IEEE sqrt). Quantize both
    * axes first (the histogram convention): the cell self-join is
    * |cells|²/2 — bounded and broadcastable when the contract is kept,
    * quadratic in the corpus when it is not. NULL gamma when C + D =
    * 0; NULL tau_b on a zero tie-adjusted denominator.
    *
    * Grouped, one card per segment over the per-segment cell relation
    * (the grouped Spearman's tie-robust companion). The cell self-join
    * is then an EQUI-join on the segment with the x-order predicate on
    * top, so each segment pays its own |cells_g|²/2 and segments never
    * cross; a segment with a single distinct x (no cross-x pairs) emits
    * zero pair masses and NULL gamma, never a dropped row.
    *
    * @return per segment: groupCols..., n, n_cells, c_pairs, d_pairs,
    *         gamma, tau_b */
  def kendallCells(df: DataFrame, groupCols: Seq[String], xExpr: String,
                   yExpr: String): DataFrame = {
    val gc = groupCols.map(col)
    val d19 = "decimal(19,0)"; val d38 = "decimal(38,0)"
    val cells = df.select((gc :+ expr(xExpr).cast("long").as("x") :+
        expr(yExpr).cast("long").as("y")): _*)
      .groupBy((gc :+ col("x") :+ col("y")): _*)
      .agg(count(lit(1)).cast("long").as("cnt"))
      .persist()
    val a = cells.select((gc :+ col("x").as("x1") :+ col("y").as("y1") :+
      col("cnt").as("c1")): _*)
    val b = cells.select((groupCols.map(g => col(g).as(s"r_$g")) :+
      col("x").as("x2") :+ col("y").as("y2") :+ col("cnt").as("c2")): _*)
    // ordered on x so every cross-x pair is visited once
    val joinCond = (groupCols.map(g => col(g) === col(s"r_$g")) :+
      (col("x1") < col("x2"))).reduce(_ && _)
    val pairs = a.join(broadcastIfGlobal(b, groupCols), joinCond)
      .groupBy(gc: _*)
      .agg(
        coalesce(sum(when(col("y1") < col("y2"),
            (col("c1").cast(d19) * col("c2").cast(d19)).cast(d38))
          .otherwise(lit(0).cast(d38))), lit(0).cast(d38)).cast(d38)
          .as("c_pairs"),
        coalesce(sum(when(col("y1") > col("y2"),
            (col("c1").cast(d19) * col("c2").cast(d19)).cast(d38))
          .otherwise(lit(0).cast(d38))), lit(0).cast(d38)).cast(d38)
          .as("d_pairs"))
    val tot = cells.groupBy(gc: _*).agg(
      coalesce(sum(col("cnt")), lit(0L)).cast("long").as("n"),
      count(lit(1)).cast("long").as("n_cells"))
    def tieMass(c: String): DataFrame = cells
      .groupBy((gc :+ col(c)): _*)
      .agg(sum(col("cnt")).cast("long").as("m"))
      .groupBy(gc: _*)
      .agg(coalesce(sum(((col("m").cast(d19) * (col("m") - 1L).cast(d19))
        .cast(d38))), lit(0).cast(d38)).cast(d38).as(s"t2_$c"))
    // a single-x segment has no cross-x pairs: left join, zero-fill
    val withPairs = joinGroups(tot, pairs, groupCols, "left_outer")
    val j = joinGroups(joinGroups(withPairs, tieMass("x"), groupCols),
        tieMass("y"), groupCols)
      .select((gc :+ col("n") :+ col("n_cells") :+
        coalesce(col("c_pairs"), lit(0).cast(d38)).as("c_pairs") :+
        coalesce(col("d_pairs"), lit(0).cast(d38)).as("d_pairs") :+
        col("t2_x") :+ col("t2_y")): _*)
    // doubled pair masses (avoid /2 everywhere): 2n0 = n(n−1),
    // 2n1 = Σ m_x(m_x−1), 2n2 = Σ m_y(m_y−1)
    val n02 = (col("n").cast(d19) * (col("n") - 1L).cast(d19)).cast(d38)
    val cd = (col("c_pairs") - col("d_pairs")).cast(d38)
    val den1 = (n02 - col("t2_x")).cast(d38)
    val den2 = (n02 - col("t2_y")).cast(d38)
    val nullD = lit(null).cast("double")
    j.select((gc :+ col("n") :+ col("n_cells") :+
      col("c_pairs").cast("long").as("c_pairs") :+
      col("d_pairs").cast("long").as("d_pairs") :+
      when((col("c_pairs") + col("d_pairs")).cast(d38) ===
          lit(0).cast(d38), nullD)
        .otherwise(cd.cast("double") /
          (col("c_pairs") + col("d_pairs")).cast("double")).as("gamma") :+
      when(den1 === lit(0).cast(d38) || den2 === lit(0).cast(d38), nullD)
        // pair masses above are UNDOUBLED (each unordered pair once),
        // denominators doubled — scale by 2 to match: tau = 2(C−D)/
        // √(2n0−2n1)·√(2n0−2n2)
        .otherwise(lit(2.0) * cd.cast("double") /
          (sqrt(den1.cast("double")) * sqrt(den2.cast("double"))))
        .as("tau_b")): _*)
  }

  def kendallCells(df: DataFrame, xExpr: String, yExpr: String): DataFrame =
    kendallCells(df, Nil, xExpr, yExpr)

  /** Wilcoxon signed-rank test (Wilcoxon 1945): the PAIRED two-sample
    * shift test — per unit a before/after (x, y), d = y − x, zeros
    * dropped (the standard treatment), |d| midranked (doubled, so
    * integer under ties), W+ = rank mass of the positive side. The
    * within-unit pairing removes between-unit variance the unpaired
    * rank-sum test would drown in. z is the tie-corrected normal
    * approximation in doubled units:
    * (w2_pos − n_r(n_r+1)/2) / sqrt((2·n_r(n_r+1)(2n_r+1) − T)/12),
    * NULL when no non-zero pairs or all |d| tied into a zero variance.
    * Cumulative pass over the distinct-|d| axis only.
    *
    * @return one row: n_pairs, n_zero, n_r, w2_pos (= 2·W+, exact),
    *         w_pos, tie_t, z */
  def wilcoxonSignedRank(df: DataFrame, xExpr: String,
                         yExpr: String): DataFrame = {
    val dd = df.select((expr(yExpr).cast("long") - expr(xExpr).cast("long"))
      .as("dv"))
    val nz = dd.filter(col("dv") =!= 0L)
      .select(abs(col("dv")).as("v"),
        when(col("dv") > 0L, 1L).otherwise(0L).as("a"))
    val r = ranked(nz, Seq())
      .withColumn("d2", lit(2L) * col("cum") - col("cnt") + 1L)
    val zeros = dd.agg(count(lit(1)).cast("long").as("n_pairs"),
      coalesce(sum(when(col("dv") === 0L, 1L).otherwise(0L)), lit(0L))
        .cast("long").as("n_zero"))
    val agg = r.agg(
      coalesce(max(col("n")), lit(0L)).as("n_r"),
      coalesce(sum(col("cnt_a").cast("decimal(19,0)") *
          col("d2").cast("decimal(19,0)")).cast("decimal(38,0)"),
        lit(0).cast("decimal(38,0)")).as("w2_pos"),
      coalesce(sum((col("cnt").cast("decimal(19,0)") *
          col("cnt").cast("decimal(19,0)") * col("cnt").cast("decimal(19,0)")
          - col("cnt").cast("decimal(19,0)")).cast("decimal(38,0)"))
        .cast("decimal(38,0)"), lit(0).cast("decimal(38,0)")).as("tie_t"))
    val nr = col("n_r").cast("decimal(19,0)")
    // n_r(n_r+1) is even, so the integer div is exact (and dodges
    // engine-specific decimal-division scale rules entirely)
    val mean2 = expr("(n_r * (n_r + 1)) div 2")
    val vNum = (lit(2).cast("decimal(19,0)") *
      ((nr * (col("n_r") + 1L).cast("decimal(19,0)")).cast("decimal(38,0)") *
        (lit(2L) * col("n_r") + 1L).cast("decimal(19,0)")).cast("decimal(38,0)")
      - col("tie_t")).cast("decimal(38,0)")
    zeros.crossJoin(agg).select(
      col("n_pairs"), col("n_zero"), col("n_r"),
      col("w2_pos").cast("long").as("w2_pos"),
      (col("w2_pos").cast("double") / lit(2.0)).as("w_pos"),
      col("tie_t").cast("long").as("tie_t"),
      when(col("n_r") === 0L || vNum === lit(0).cast("decimal(38,0)"),
        lit(null).cast("double"))
        .otherwise((col("w2_pos").cast("double") - mean2.cast("double")) /
          sqrt(vNum.cast("double") / lit(12.0))).as("z"))
  }

  /** McNemar's test (1947): do two classifiers graded on the SAME
    * items differ? Only the discordant counts matter — b = #(1 right,
    * 2 wrong), c = #(1 wrong, 2 right); statistic (b−c)²/(b+c), all
    * integer but the division (the chi-square form without continuity
    * correction, mirrored exactly engine-to-engine). The upgrade-gate
    * card: accuracy deltas on overlapping test sets double-count the
    * items both get right. NULL when b + c = 0 (no discordant items).
    *
    * @return one row: n, b, c, mcnemar_num (= (b−c)²), mcnemar_den
    *         (= b+c), mcnemar */
  def mcnemar(df: DataFrame, correct1Expr: String,
              correct2Expr: String): DataFrame = {
    val f = df.select(expr(correct1Expr).cast("boolean").as("c1"),
      expr(correct2Expr).cast("boolean").as("c2"))
    val Seq(_, o10, o01, _) = cells2x2(col("c1"), col("c2"))
    f.agg(count(lit(1)).cast("long").as("n"), o10.as("b"), o01.as("c"))
      .select(col("n"), col("b"), col("c"),
        ((col("b") - col("c")) * (col("b") - col("c"))).as("mcnemar_num"),
        (col("b") + col("c")).as("mcnemar_den"),
        when(col("b") + col("c") === 0L, lit(null).cast("double"))
          .otherwise(((col("b") - col("c")) * (col("b") - col("c")))
            .cast("double") / (col("b") + col("c")).cast("double"))
          .as("mcnemar"))
  }

  /** Fleiss' kappa (1971): chance-debited agreement among r raters
    * per item (the multi-annotator card a labeling pipeline reads
    * before trusting majority vote). Input: one row per VOTE (item,
    * category); every item must carry exactly `raters` votes (the
    * fixed-panel design Fleiss assumes — enforced with a loud count).
    * With S2 = Σ_ij n_ij², T_j = Σ_i n_ij, N items:
    * P̄ = (S2 − N·r)/(N·r·(r−1)), P_e = Σ T_j²/(N·r)², and
    * kappa = (P̄ − P_e)/(1 − P_e) reduced over the common denominator:
    * kappa_num = (S2 − Nr)·(Nr)² − Nr(r−1)·ΣT_j²,
    * kappa_den = Nr(r−1)·((Nr)² − ΣT_j²) — integers, one division.
    * NULL when every vote lands in one category (den 0). Long-emitted
    * pieces are exact to N ≈ 400k items at r=3 (kappa_num ~ N³r⁴;
    * DECIMAL(38)-exact far beyond — shard by item domain if the longs
    * matter at larger N).
    *
    * @return one row: n_items, bad_items (items whose vote count ≠
    *         raters — MUST be 0 for the statistic to mean anything),
    *         s2, pe_num (= Σ T_j²), kappa_num, kappa_den, kappa */
  def fleissKappa(df: DataFrame, itemExpr: String, categoryExpr: String,
                  raters: Int): DataFrame = {
    require(raters >= 2, s"need >= 2 raters, got $raters")
    val cells = df.select(expr(itemExpr).as("item"),
        expr(categoryExpr).as("cat"))
      .groupBy(col("item"), col("cat"))
      .agg(count(lit(1)).cast("long").as("nij"))
      .persist()
    val perItem = cells.groupBy(col("item"))
      .agg(sum(col("nij")).as("votes"),
        sum((col("nij").cast("decimal(19,0)") * col("nij")
          .cast("decimal(19,0)")).cast("decimal(38,0)")).cast("decimal(38,0)")
          .as("sq"))
    val items = perItem.agg(
      count(lit(1)).cast("long").as("n_items"),
      coalesce(sum(when(col("votes") =!= raters.toLong, 1L).otherwise(0L)),
        lit(0L)).as("bad_items"),
      coalesce(sum(col("sq")), lit(0).cast("decimal(38,0)"))
        .cast("decimal(38,0)").as("s2"))
    val perCat = cells.groupBy(col("cat")).agg(sum(col("nij")).as("tj"))
      .agg(coalesce(sum((col("tj").cast("decimal(19,0)") *
          col("tj").cast("decimal(19,0)")).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)")).cast("decimal(38,0)").as("pe_num"))
    val j = items.crossJoin(perCat)
    val nr = (col("n_items").cast("decimal(19,0)") *
      lit(raters).cast("decimal(19,0)")).cast("decimal(38,0)")
    val nr2 = (nr * nr).cast("decimal(38,0)")
    val pBarNum = (col("s2") - nr).cast("decimal(38,0)")
    val pBarDen = (nr * lit(raters - 1).cast("decimal(19,0)"))
      .cast("decimal(38,0)")
    val num = (pBarNum * nr2 - (pBarDen * col("pe_num")).cast("decimal(38,0)"))
      .cast("decimal(38,0)")
    val den = (pBarDen * (nr2 - col("pe_num")).cast("decimal(38,0)"))
      .cast("decimal(38,0)")
    j.select(col("n_items"), col("bad_items"),
      col("s2").cast("long").as("s2"),
      col("pe_num").cast("long").as("pe_num"),
      num.cast("long").as("kappa_num"), den.cast("long").as("kappa_den"),
      when(den === lit(0).cast("decimal(38,0)"), lit(null).cast("double"))
        .otherwise(num.cast("double") / den.cast("double")).as("kappa"))
  }

  /** Per-category specific agreement for a fixed r-rater panel — the
    * drill-down [[fleissKappa]] summarizes away: for category j,
    * s_j = Σ_i n_ij(n_ij−1) / ((r−1)·T_j) is the probability a second
    * rater agrees GIVEN one chose j (Fleiss's category-wise
    * statistic). All integer but one division per category; the
    * answer to "which label do annotators actually disagree on".
    * Aggregates over the (item, category) cell axis only.
    *
    * @return per category: cat, t_j (votes), s_num (= Σ n_ij(n_ij−1)),
    *         s_den (= (r−1)·T_j), specific_agreement */
  def specificAgreement(df: DataFrame, itemExpr: String,
                        categoryExpr: String, raters: Int): DataFrame = {
    require(raters >= 2, s"need >= 2 raters, got $raters")
    df.select(expr(itemExpr).as("item"), expr(categoryExpr).as("cat"))
      .groupBy(col("item"), col("cat"))
      .agg(count(lit(1)).cast("long").as("nij"))
      .groupBy(col("cat"))
      .agg(sum(col("nij")).cast("long").as("t_j"),
        sum(col("nij") * (col("nij") - 1L)).cast("long").as("s_num"))
      .select(col("cat"), col("t_j"), col("s_num"),
        (lit(raters.toLong - 1L) * col("t_j")).as("s_den"),
        when(col("t_j") === 0L, lit(null).cast("double"))
          .otherwise(col("s_num").cast("double") /
            (lit(raters.toLong - 1L) * col("t_j")).cast("double"))
          .as("specific_agreement"))
  }

  /** Dyadic Benford expected first-digit probabilities
    * log10(1 + 1/d) in units of 2^-20, d = 1..9 — hardcoded floor
    * quantizations (the documented approximation, like
    * [[PoissonThresholds]]): the irrational constants live in ONE
    * integer table both engines share, so every derived deviation is
    * exact integer arithmetic. */
  val Benford20: Seq[Long] =
    Seq(315652L, 184645L, 131007L, 101617L, 83027L, 70198L, 60808L,
      53637L, 47980L)

  /** Benford first-digit audit of a positive integer column — the
    * fabricated-data / corrupted-feed screen (Benford 1938; price,
    * population, and count data follow log10(1+1/d); uniform or
    * hand-typed data does not). Per digit: observed count, the exact
    * expected numerator n·p20_d (denominator 2^20), and the absolute
    * deviation |obs·2^20 − n·p20_d| — all integers, so the per-digit
    * verdict is engine-exact; `share` and `benford_p` are one division
    * each for the human. Digits absent from the data are emitted with
    * obs = 0 (a missing row would hide exactly the anomaly). Non-
    * positive values are excluded and counted in every row's
    * n_excluded. One scan to 9 cells.
    *
    * @return 9 rows: digit, obs, n (positive rows), n_excluded,
    *         exp_num (= n·p20_d; /2^20 = expected count), dev_num
    *         (= |obs·2^20 − n·p20_d|), share, benford_p */
  def benfordDigits(df: DataFrame, valueExpr: String): DataFrame = {
    val spark = df.sparkSession
    val v = df.select(expr(valueExpr).cast("long").as("v"))
    val counts = v.filter(col("v") > 0L)
      .select(expr("cast(substring(cast(v as string), 1, 1) as int)")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).cast("long").as("obs"))
    val tot = v.agg(
      sum(when(col("v") > 0L, 1L).otherwise(0L)).cast("long").as("n"),
      sum(when(col("v") > 0L, 0L).otherwise(1L)).cast("long")
        .as("n_excluded"))
    val digits = spark.range(1, 10)
      .select(col("id").cast("int").as("digit"),
        element_at(typedLit(Benford20), col("id").cast("int")).as("p20"))
    digits.join(counts, Seq("digit"), "left_outer")
      .crossJoin(broadcast(tot))
      .select(col("digit"),
        coalesce(col("obs"), lit(0L)).as("obs"),
        col("n"), col("n_excluded"),
        (col("n") * col("p20")).as("exp_num"),
        abs(coalesce(col("obs"), lit(0L)) * lit(1048576L) -
          col("n") * col("p20")).as("dev_num"),
        when(col("n") === 0L, lit(null).cast("double"))
          .otherwise(coalesce(col("obs"), lit(0L)).cast("double") /
            col("n").cast("double")).as("share"),
        (col("p20").cast("double") / lit(1048576.0)).as("benford_p"))
  }

  /** Dyadic Poisson(1) CDF thresholds in units of 2^-28: multiplicity
    * = #(u ≥ t_k) over a 28-bit md5 draw u. The distribution is the
    * documented APPROXIMATION (Poisson(1) quantized to 2^-28, tail
    * truncated at 6, P ≈ 5.9·10^-4 of mass mapped to 6) — the
    * approximation lives in the resampling DESIGN; the arithmetic is
    * exact and both engines compute the identical multiplicity. */
  val PoissonThresholds: Seq[Long] =
    Seq(98751885L, 197503771L, 246879713L, 263338361L, 267453023L,
      268275955L)

  /** Poisson bootstrap (the resampling scheme that works on a stream
    * or a 100 TB scan: each row's multiplicity in replicate r is an
    * independent ~Poisson(1) draw — no global n needed, so no
    * coordination; Chamandy et al., "Estimating Uncertainty for
    * Massive Data Streams", Google 2012): standard error of the corpus
    * TOTAL (and mean) of `valueExpr` under resampling. Multiplicities
    * are pure functions of (id, replicate, salt) — one md5, 28 bits,
    * [[PoissonThresholds]] — so the whole card replays bit-identically
    * anywhere. Replicate totals are integers; the spread
    * R·ΣT² − (ΣT)² is DECIMAL-exact; one division + one IEEE sqrt at
    * the end.
    *
    * Scale: the R-fold explode is transient map-side CPU — partial
    * aggregation collapses each partition to ≤ R rows, so the shuffle
    * carries R rows per partition regardless of corpus size.
    *
    * @return one row: r (replicates), n (corpus rows), total (the
    *         un-resampled Σ value), boot_mean_total (= ΣT_r/R),
    *         se_total (sd of T_r), se_mean (= se_total/n) */
  def poissonBootstrap(df: DataFrame, idExpr: String, valueExpr: String,
                       replicates: Int, salt: String): DataFrame =
    bootstrapReadout(bootstrapTotals(df, idExpr, valueExpr, replicates,
      salt))

  /** ADDITIVE store for [[poissonBootstrap]]: per-batch replicate
    * totals. The Poisson bootstrap's deep property is that T_r is a
    * SUM of per-row terms with per-(id, replicate) deterministic
    * multiplicities — so replicate totals from disjoint batches ADD to
    * exactly the one-shot totals over the union, and the maintained
    * readout is bit-identical to rescanning everything (the spec pins
    * it). Store rows: (r, t, n, tot) per replicate per batch; merge =
    * plain sum per r. Exactly-once via [[Stores.appendCommit]] markers
    * (sums are not idempotent), the [[Cms]] lifecycle. */
  def bootstrapStoreAppend(df: DataFrame, path: String, batchTag: String,
                           idExpr: String, valueExpr: String,
                           replicates: Int, salt: String): Unit = {
    val spark = df.sparkSession
    val rows = bootstrapTotals(df, idExpr, valueExpr, replicates, salt)
      .withColumn("tag", lit(batchTag))
    if (!Stores.exists(spark, path, "_SUCCESS"))
      rows.limit(0).write.mode("overwrite").parquet(path)
    Stores.appendCommit(spark, path, batchTag) { staging =>
      rows.write.mode("overwrite").parquet(staging)
    }
  }

  /** [[poissonBootstrap]]'s readout over the merged store — the SE of
    * the CUMULATIVE corpus so far, maintained per arriving batch
    * without ever rescanning history. */
  def bootstrapFromStore(spark: SparkSession, path: String): DataFrame = {
    Stores.requireStore(spark, path, "append bootstrap batches first")
    val merged = Stores.freshRead(spark, path)
      .groupBy(col("r"))
      .agg(sum(col("t")).cast("long").as("t"),
        sum(col("n")).cast("long").as("n"),
        sum(col("tot")).cast("long").as("tot"))
    bootstrapReadout(merged)
  }

  /** [[bootstrapFromStore]] cut at a batch tag (`tag <= asOfTag` on
    * the store's version axis) — time travel for the uncertainty
    * gauge: "what did the CI say as of batch N", the audit read the
    * decay/histogram stores already answer. Append-only rows make the
    * cut exact (nothing after N can perturb sums up to N); prunes on
    * the tag column's parquet min/max like every as-of read. */
  def bootstrapFromStoreAsOf(spark: SparkSession, path: String,
                             asOfTag: String): DataFrame = {
    Stores.requireStore(spark, path, "append bootstrap batches first")
    val merged = Stores.freshRead(spark, path)
      .filter(col("tag") <= asOfTag)
      .groupBy(col("r"))
      .agg(sum(col("t")).cast("long").as("t"),
        sum(col("n")).cast("long").as("n"),
        sum(col("tot")).cast("long").as("tot"))
    bootstrapReadout(merged)
  }

  /** Per-replicate totals (r, t, n, tot) — n/tot are the batch's row
    * count and un-resampled total, carried on every replicate row so
    * the store's per-r sums reconstruct them for the union. */
  private def bootstrapTotals(df: DataFrame, idExpr: String,
                              valueExpr: String, replicates: Int,
                              salt: String): DataFrame = {
    require(replicates >= 2 && replicates <= 1024,
      s"replicates in [2, 1024], got $replicates")
    val base = df.select(expr(idExpr).cast("string").as("id"),
      expr(valueExpr).cast("long").as("v"))
    val overall = base.agg(count(lit(1)).cast("long").as("n"),
      coalesce(sum(col("v")), lit(0L)).cast("long").as("tot"))
    val rep = base.select(col("id"), col("v"),
      explode(expr(s"sequence(0, ${replicates - 1})")).as("r"))
    val withU = rep.withColumn("u",
      expr("cast(conv(substring(md5(concat(id, '_', cast(r as string)" +
        s", '$salt')), 1, 7), 16, 10) as bigint)"))
    val m = PoissonThresholds
      .foldLeft(lit(0L)) { (acc, t) =>
        acc + when(col("u") >= t, 1L).otherwise(0L)
      }
    withU.select(col("r"), (m * col("v")).as("mv"))
      .groupBy(col("r")).agg(sum(col("mv")).cast("long").as("t"))
      .crossJoin(broadcast(overall))
  }

  private def bootstrapReadout(totals: DataFrame): DataFrame = {
    val spread = totals.agg(
      count(lit(1)).cast("long").as("r_n"),
      max(col("n")).as("n"), max(col("tot")).as("total"),
      sum(col("t").cast("decimal(19,0)")).cast("decimal(38,0)").as("st"),
      sum((col("t").cast("decimal(19,0)") * col("t").cast("decimal(19,0)"))
        .cast("decimal(38,0)")).cast("decimal(38,0)").as("st2"))
    val vNum = ((col("r_n").cast("decimal(19,0)") * col("st2"))
      .cast("decimal(38,0)") - (col("st") * col("st")).cast("decimal(38,0)"))
      .cast("decimal(38,0)")
    val vDen = col("r_n") * (col("r_n") - 1L)
    spread.select(
      col("r_n").as("r"), col("n"), col("total"),
      (col("st").cast("double") / col("r_n").cast("double"))
        .as("boot_mean_total"),
      when(col("r_n") < 2L, lit(null).cast("double"))
        .otherwise(sqrt(vNum.cast("double") / vDen.cast("double")))
        .as("se_total"),
      when(col("r_n") < 2L || col("n") === 0L, lit(null).cast("double"))
        .otherwise(sqrt(vNum.cast("double") / vDen.cast("double")) /
          col("n").cast("double")).as("se_mean"))
  }

  /** KS drift monitor against the ADDITIVE histogram store
    * ([[Quantiles.storeAppend]]): D between the store's merged
    * reference CDF and an incoming batch's, at the store's bucket
    * resolution — exact for the bucketed distributions, and the
    * CDF-shape complement to [[Trend.cusum]]'s count-level detector.
    * The threshold is a RATIONAL thrNum/thrDen compared in integers
    * (ks_num·thrDen > thrNum·ks_den), so the drift verdict itself is
    * engine-exact, not a float comparison. The reference never
    * re-scans history (that is the store's contract); the batch is
    * scanned once into a model-sized histogram. An empty reference or
    * batch emits NULL d/drift: it routes to review, not to a pass.
    *
    * @return one row: n_ref, n_batch, ks_num, ks_den, d, at_bucket
    *         (smallest bucket attaining D), drift */
  def ksDriftFromStore(spark: SparkSession, path: String, batch: DataFrame,
                       valueExpr: String, bucketWidth: Long,
                       thrNum: Long, thrDen: Long): DataFrame =
    ksDrift(Quantiles.fromStore(spark, path),
      Quantiles.histogram(batch, valueExpr, bucketWidth), Nil, thrNum, thrDen)

  /** [[ksDriftFromStore]] with the reference cut STRICTLY BEFORE a
    * batch tag (`tag < beforeTag` on the store's version axis) — the
    * REPLAY-STABLE form a streaming monitor needs: after a
    * crash-and-replay the store may already contain the batch being
    * graded, and the merged read would quietly grade it against
    * itself (drift understated exactly on the replay). The
    * strictly-before cut reconstructs the reference any FIRST
    * evaluation saw, so verdict and replay verdict are bit-identical.
    * Prunes on the tag column's parquet min/max like every as-of
    * read. */
  def ksDriftFromStoreBefore(spark: SparkSession, path: String,
                             beforeTag: String, batch: DataFrame,
                             valueExpr: String, bucketWidth: Long,
                             thrNum: Long, thrDen: Long): DataFrame = {
    Stores.requireStore(spark, path, "append histogram batches first")
    val ref = Stores.freshRead(spark, path)
      .filter(col("tag") < beforeTag)
      .groupBy("bucket").agg(sum(col("cnt")).cast("long").as("cnt"))
    ksDrift(ref, Quantiles.histogram(batch, valueExpr, bucketWidth), Nil,
      thrNum, thrDen)
  }

  /** Total-variation drift vs the additive histogram store — the L1
    * complement to [[ksDriftFromStore]]'s sup: KS sees one localized
    * shift; TVD sees TOTAL mass displacement even when no single
    * bucket diverges much (many small leaks). Exactly the statistic
    * the exactness discipline wants: TVD = ½ Σ_b |p_b − q_b| evaluates
    * as tvd_num = Σ_b |cnt_ref·n_batch − cnt_b·n_ref| — an ORDER-FREE
    * integer sum (chi-square/PSI need per-bucket divisions/logs, which
    * are banned or order-dependent) — over tvd_den = 2·n_ref·n_batch,
    * verdict rationally compared. No window anywhere: one full-outer
    * bucket join + one hash agg. Long-emitted num/den are safe to
    * ~2·10⁹ rows per side (the ks_den bound); the internal sum is
    * DECIMAL-exact far beyond.
    *
    * @return one row: n_ref, n_batch, tvd_num, tvd_den, tvd, drift */
  def tvdDriftFromStore(spark: SparkSession, path: String, batch: DataFrame,
                        valueExpr: String, bucketWidth: Long,
                        thrNum: Long, thrDen: Long): DataFrame = {
    require(thrNum >= 0 && thrDen >= 1, s"threshold $thrNum/$thrDen invalid")
    val d19 = "decimal(19,0)"; val d38 = "decimal(38,0)"
    val ref = Quantiles.fromStore(spark, path)
      .withColumnRenamed("cnt", "cnt_ref")
    val b = Quantiles.histogram(batch, valueExpr, bucketWidth)
      .withColumnRenamed("cnt", "cnt_b")
    val joined = ref.join(b, Seq("bucket"), "full_outer")
      .select(coalesce(col("cnt_ref"), lit(0L)).as("cr"),
        coalesce(col("cnt_b"), lit(0L)).as("cb"))
    val tot = joined.agg(
      coalesce(sum(col("cr")), lit(0L)).cast("long").as("n_ref"),
      coalesce(sum(col("cb")), lit(0L)).cast("long").as("n_batch"))
    val agg = joined.crossJoin(broadcast(tot)).agg(
      max(col("n_ref")).as("n_ref"), max(col("n_batch")).as("n_batch"),
      coalesce(sum(abs((col("cr").cast(d19) * col("n_batch").cast(d19))
          .cast(d38) - (col("cb").cast(d19) * col("n_ref").cast(d19))
          .cast(d38))).cast(d38), lit(0).cast(d38)).as("tvd_dec"))
    agg.select(col("n_ref"), col("n_batch"),
      col("tvd_dec").cast("long").as("tvd_num"),
      (lit(2L) * col("n_ref") * col("n_batch")).as("tvd_den"),
      when(col("n_ref") === 0L || col("n_batch") === 0L,
        lit(null).cast("double"))
        .otherwise(col("tvd_dec").cast("double") /
          (lit(2L) * col("n_ref") * col("n_batch")).cast("double"))
        .as("tvd"),
      // long compare like the KS verdict (ANSI overflow is loud, and
      // the long emission bound already applies to tvd_num/tvd_den).
      // An empty reference or batch routes to review (NULL), not to a
      // pass — same contract as [[ksDriftFromStore]]: tvd_num is 0
      // on an empty side, which a boolean would misread as healthy.
      when(col("n_ref") === 0L || col("n_batch") === 0L,
        lit(null).cast("boolean"))
        .otherwise(col("tvd_dec").cast("long") * lit(thrDen) >
          lit(thrNum) * (lit(2L) * col("n_ref") * col("n_batch")))
        .as("drift"))
  }

  /** GROUPED [[ksDriftFromStore]] — one verdict PER GROUP from the
    * per-group histogram store ([[Quantiles.storeAppendBy]]): the
    * per-source ingest gate a multi-feed pipeline runs on every
    * arriving shard. Windows partition by the group (each group's
    * bucket axis is independent and axis-guarded). A group with an
    * empty reference (a brand-new source — exactly the one worth
    * flagging) or an empty batch emits NULL d/drift: "no reference
    * yet" must route to review, not read as a pass.
    *
    * @return per group: groupCols..., n_ref, n_batch, ks_num, ks_den,
    *         d, at_bucket, drift */
  def ksDriftFromStoreBy(spark: SparkSession, path: String,
                         groupCols: Seq[String], batch: DataFrame,
                         valueExpr: String, bucketWidth: Long,
                         thrNum: Long, thrDen: Long): DataFrame =
    ksDrift(Quantiles.fromStoreBy(spark, path, groupCols),
      Quantiles.histogramBy(batch, groupCols, valueExpr, bucketWidth),
      groupCols, thrNum, thrDen)

  /** The KS drift card of a batch histogram against a reference
    * histogram, both (groupCols..., bucket, cnt): one verdict per
    * group, one row over no group columns. */
  private def ksDrift(ref: DataFrame, batch: DataFrame,
                      groupCols: Seq[String], thrNum: Long,
                      thrDen: Long): DataFrame = {
    require(thrNum >= 0 && thrDen >= 1, s"threshold $thrNum/$thrDen invalid")
    val gc = groupCols.map(col)
    val joined = ref.withColumnRenamed("cnt", "cnt_ref")
      .join(batch.withColumnRenamed("cnt", "cnt_b"), groupCols :+ "bucket",
        "full_outer")
      .select((gc :+ col("bucket") :+
        coalesce(col("cnt_ref"), lit(0L)).as("cr") :+
        coalesce(col("cnt_b"), lit(0L)).as("cb")): _*)
    val wCum = Window.partitionBy(gc: _*).orderBy(col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(gc: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = joined
      .withColumn("cum_r", sum(col("cr")).over(wCum) +
        axisGuard(joined, wAll))
      .withColumn("cum_b", sum(col("cb")).over(wCum))
      .withColumn("n_ref", sum(col("cr")).over(wAll))
      .withColumn("n_batch", sum(col("cb")).over(wAll))
      .withColumn("diff_num",
        abs(col("cum_r") * col("n_batch") - col("cum_b") * col("n_ref")))
    val emptySide = col("n_ref") === 0L || col("n_batch") === 0L
    cum.groupBy(gc: _*).agg(
        max(col("n_ref")).as("n_ref"), max(col("n_batch")).as("n_batch"),
        max(col("diff_num")).as("ks_num"),
        max_by(col("bucket"), struct(col("diff_num"), negate(col("bucket"))))
          .as("at_bucket"))
      .select((gc :+ col("n_ref") :+ col("n_batch") :+ col("ks_num") :+
        (col("n_ref") * col("n_batch")).as("ks_den") :+
        when(emptySide, lit(null).cast("double"))
          .otherwise(col("ks_num").cast("double") /
            (col("n_ref") * col("n_batch")).cast("double")).as("d") :+
        col("at_bucket") :+
        when(emptySide, lit(null).cast("boolean"))
          .otherwise(col("ks_num") * lit(thrDen) > lit(thrNum) *
            (col("n_ref") * col("n_batch"))).as("drift")): _*)
  }
}
