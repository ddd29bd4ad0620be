package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A/B experiment readout — deterministic unit-level variant
  * assignment plus the two-proportion z statistic (the standard
  * large-sample test for conversion-rate experiments; see any treatment
  * of the two-sample binomial, e.g. Kohavi et al., "Trustworthy Online
  * Controlled Experiments").
  *
  * Assignment is a pure function of (unit, salt) — one md5 bit — which
  * is what real experiment platforms do (hash-based bucketing: sticky
  * across sessions, no assignment table to join, new salt = fresh
  * randomization). It also makes the whole readout exactly replayable
  * in any engine: counts are integers, rates one division each, and the
  * z denominator's `sqrt` is IEEE-754 correctly rounded — the one
  * "transcendental-looking" step that is actually bit-exact
  * cross-engine (unlike ln/exp, which this engine's exactness
  * discipline bans).
  *
  * Run against a corpus with no real treatment, the readout IS the
  * A/A test — the standard instrument validation: |z| repeatedly ≥ 2
  * on salt re-rolls means the bucketing or the metric is broken, not
  * the product.
  *
  * Scale: one hash aggregation to unit grain (conversion = did the
  * unit EVER convert), one map-combinable aggregation to a single row
  * per group. Nothing unit-level leaves the second aggregation.
  *
  * Every card is built from the same few private builders: [[variant]]
  * (the one md5 assignment), [[unitGrain]]/[[assigned]] (the per-unit
  * fold), [[pivot]] (per-arm sums, zero on empty input) and, for the
  * store reads, [[trace]] (the per-tag cumulative window) and
  * [[spendingBoundary]]. The experiment store is an additive fold of
  * per-batch deltas, so a trace row is exactly the as-of read at its
  * tag: each `*Trace` card equals its `*FromStoreAsOf` twin row by row.
  */
object Abtest {

  private val d19 = "decimal(19,0)"; private val d38 = "decimal(38,0)"

  /** The sticky arm of `unit`: the first 28 bits of md5(unit ‖ salt),
    * mod k. The salt is a column so [[permutationTest]] can re-draw it
    * per round; every other card passes `lit(salt)`, so the salt is
    * hashed exactly as given (no SQL quoting or escape processing). */
  private def variant(salt: Column, k: Int): Column =
    conv(substring(md5(concat(col("unit").cast("string"), salt)), 1, 7), 16, 10)
      .cast("bigint") % k

  /** A per-unit measure: its row expression and its per-unit fold. */
  private type Measure = (Column, Column)

  /** Did the unit EVER convert (0/1). */
  private def converted(convExpr: String): Measure =
    (expr(convExpr).cast("boolean").as("c"),
      max(when(col("c"), 1L).otherwise(0L)).as("converted"))

  /** The unit's integer total of `e`, as column `name`. */
  private def metric(e: String, name: String): Measure =
    (expr(e).cast("long").as(s"${name}r"),
      sum(col(s"${name}r")).cast("long").as(name))

  /** One row per (keys…, unit) with the measures folded; no measures
    * means the distinct (keys…, unit) rows. */
  private def unitGrain(df: DataFrame, unitExpr: String,
                        measures: Seq[Measure],
                        keys: Seq[Column] = Nil): DataFrame = {
    val sel = df.select((keys ++ (expr(unitExpr).as("unit") +:
      measures.map(_._1))): _*)
    if (measures.isEmpty) sel.distinct()
    else sel.groupBy(sel.columns.toSeq.take(keys.size + 1).map(col): _*)
      .agg(measures.head._2, measures.tail.map(_._2): _*)
  }

  /** [[unitGrain]] with each unit's [[variant]] under `salt`. */
  private def assigned(df: DataFrame, unitExpr: String, salt: String,
                       measures: Seq[Measure], keys: Seq[Column] = Nil,
                       k: Int = 2): DataFrame =
    unitGrain(df, unitExpr, measures, keys)
      .withColumn("variant", variant(lit(salt), k))

  /** A per-arm sum: output name, row value and type ("long" or d38). */
  private type Cell = (String, Column, String)
  private def cell(name: String, v: Column, t: String = "long"): Cell =
    (name, v, t)
  /** A store column summed per arm under its own name. */
  private def stored(name: String, t: String = "long"): Cell =
    cell(name, col(name), t)
  private val ab = Seq("a", "b")
  private def armsK(k: Int): Seq[String] = (0 until k).map(_.toString)

  /** The per-arm pivot: `<name>_<arm>` = Σ value over the rows of arm
    * i (the i-th suffix), arm-major, each coalesced to a zero of its
    * type so an empty input reads 0 rather than NULL. */
  private def pivot(arms: Seq[String], cells: Cell*): Seq[Column] =
    for ((arm, i) <- arms.zipWithIndex; (name, v, t) <- cells) yield {
      val zero = lit(0).cast(t)
      coalesce(sum(when(col("variant") === i.toLong, v).otherwise(zero)), zero)
        .cast(t).as(s"${name}_$arm")
    }

  /** A pooled (all-arm) sum, coalesced like [[pivot]]'s cells. */
  private def total(name: String, v: Column, t: String = "long"): Column =
    coalesce(sum(v), lit(0).cast(t)).cast(t).as(name)

  /** Exact product of two integer columns (d19 × d19 = d38). */
  private def prod(a: String, b: String): Column =
    col(a).cast(d19) * col(b).cast(d19)

  private def sums(df: DataFrame, keys: Seq[Column],
                   aggs: Seq[Column]): DataFrame =
    df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)

  /** Conversion counts per arm (n_a, conv_a, n_b, conv_b) per key. */
  private def conversionArms(df: DataFrame, unitExpr: String,
                             convExpr: String, salt: String,
                             keys: Seq[Column] = Nil): DataFrame =
    sums(assigned(df, unitExpr, salt, Seq(converted(convExpr)), keys), keys,
      pivot(ab, cell("n", lit(1L)), cell("conv", col("converted"))))

  /** Welch moments per arm (n, sy, syy) over per-unit totals `y`. */
  private val meanCells: Seq[Cell] =
    Seq(cell("n", lit(1L)), cell("sy", col("y")), cell("syy", prod("y", "y"), d38))

  /** @param unitExpr randomization unit (user id — NEVER the event id:
    *                 unit-level independence is what the z test assumes)
    * @param convExpr boolean conversion predicate evaluated per row;
    *                 a unit converts if ANY of its rows does
    * @param salt     experiment name/seed — new salt = new assignment
    * @return one row per group: n_a, conv_a, n_b, conv_b, rate_a,
    *         rate_b, lift (rate_b − rate_a), z. rate/lift/z are NULL
    *         when either arm is empty (z also when the pooled rate is
    *         degenerate 0/1) — an explicit NULL on both engines, never
    *         Spark's NULL-on-div-by-zero vs IEEE Inf/NaN divergence */
  def readout(df: DataFrame, groupCols: Seq[String], unitExpr: String,
              convExpr: String, salt: String): DataFrame = {
    val gc = groupCols.map(col)
    readoutCard(conversionArms(df, unitExpr, convExpr, salt, gc), gc)
  }

  /** The conversion-readout card over pre-aggregated arm counts
    * (groupCols..., n_a, conv_a, n_b, conv_b) — shared by the one-shot
    * [[readout]] and [[readoutFromStore]] so both emit the SAME double
    * expressions bit-for-bit. */
  private def readoutCard(agg: DataFrame, gc: Seq[Column]): DataFrame = {
    val nA = col("n_a").cast("double"); val nB = col("n_b").cast("double")
    val pA = col("conv_a").cast("double") / nA
    val pB = col("conv_b").cast("double") / nB
    val pPool = (col("conv_a") + col("conv_b")).cast("double") / (nA + nB)
    val se = sqrt(pPool * (lit(1.0) - pPool) * (lit(1.0) / nA + lit(1.0) / nB))
    val emptyArm = col("n_a") === 0L || col("n_b") === 0L
    agg.select((gc ++ Seq(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      when(emptyArm, lit(null)).otherwise(pA).as("rate_a"),
      when(emptyArm, lit(null)).otherwise(pB).as("rate_b"),
      when(emptyArm, lit(null)).otherwise(pB - pA).as("lift"),
      // nested guard: pPool divides by n_a + n_b, which is 0 on an empty
      // input — clear emptyArm first (the ANSI eager-OR rule)
      when(emptyArm, lit(null)).otherwise(
        when(pPool === 0.0 || pPool === 1.0, lit(null))
          .otherwise((pB - pA) / se)).as("z"))): _*)
  }

  /** K-ARM experiment readout — variant = md5 % k (arm 0 is the
    * CONTROL), one row per arm with its two-proportion z against the
    * control: the A/B/n form every real platform runs (testing k − 1
    * treatments against one control with the SAME sticky bucketing as
    * [[readout]]; k = 2 reduces to it exactly, arm columns aside).
    * Every arm emits a row even when empty (literal 0..k−1 axis —
    * an arm nobody landed in is a fact worth seeing, not a missing
    * row). NULL rate on an empty arm; NULL lift/z on the control row,
    * an empty pair side, or a degenerate pooled rate — the
    * [[readout]] guard set per pair.
    *
    * Scale: one hash aggregation to unit grain, one to k rows; the
    * control row broadcasts onto the arm axis. Nothing unit-level
    * leaves the second aggregation.
    *
    * @return per arm: variant, n, conv, rate, lift_vs_ctrl, z_vs_ctrl */
  def readoutK(df: DataFrame, unitExpr: String, convExpr: String,
               salt: String, k: Int): DataFrame = {
    require(k >= 2 && k <= 64, s"k in [2, 64], got $k")
    val units = assigned(df, unitExpr, salt, Seq(converted(convExpr)), k = k)
    val agg = units.groupBy(col("variant")).agg(
      count(lit(1)).cast("long").as("n"),
      sum(col("converted")).cast("long").as("conv"))
    karmCard(df.sparkSession, agg, k)
  }

  /** Two-sided Bonferroni z thresholds at FAMILY α = 0.05 for
    * m = 1..63 simultaneous comparisons (index m−1): z_m =
    * Φ⁻¹(1 − 0.025/m) — PRECOMPUTED literal constants, the
    * [[ObrienFleming3]]/[[mdeCard]] z-literal convention (no
    * erf/quantile machinery at runtime; both engines compare against
    * the identical double). m = 1 is the plain 1.959964 cut. */
  val BonferroniZ05: Vector[Double] = Vector(
    1.959964, 2.241403, 2.393980, 2.497705, 2.575829, 2.638257, 2.690110,
    2.734369, 2.772921, 2.807034, 2.837597, 2.865260, 2.890512, 2.913726,
    2.935199, 2.955167, 2.973820, 2.991316, 3.007787, 3.023341, 3.038074,
    3.052065, 3.065383, 3.078088, 3.090232, 3.101862, 3.113017, 3.123735,
    3.134046, 3.143980, 3.153563, 3.162818, 3.171766, 3.180426, 3.188815,
    3.196950, 3.204845, 3.212514, 3.219968, 3.227218, 3.234277, 3.241152,
    3.247854, 3.254389, 3.260767, 3.266995, 3.273078, 3.279024, 3.284839,
    3.290527, 3.296094, 3.301545, 3.306885, 3.312118, 3.317247, 3.322278,
    3.327213, 3.332056, 3.336810, 3.341479, 3.346065, 3.350571, 3.355000)

  /** The k-arm card over pre-aggregated (variant, n, conv) rows —
    * shared by the one-shot [[readoutK]] and [[readoutKFromStore]] so
    * both emit the SAME double expressions bit-for-bit.
    *
    * MULTIPLICITY: testing k−1 treatments against one control at the
    * naive per-pair 1.96 cut inflates the family false-positive rate
    * ≈ (k−1)·α — the A/B/n twin of the unadjusted-peeking error the
    * boundary ops guard. The card therefore emits BOTH verdicts:
    * `sig_naive` (|z| ≥ 1.959964, what a two-arm dashboard would say)
    * and `sig_adjusted` (|z| ≥ [[BonferroniZ05]](k−1), family-α
    * controlled), plus `sig_holm` — the Holm (1979) step-down, which
    * controls the SAME family-wise α uniformly more powerfully: rank
    * the testable arms by |z| descending (ties by variant id), compare
    * rank j against [[BonferroniZ05]](k−1−j), and reject only while
    * every earlier rank also rejected (a cumulative min over the rank
    * order). m stays the PLANNED k−1 comparisons even when some arms
    * are untestable (empty / degenerate pooled rate) — conservative,
    * never anti-conservative. Each verdict compares the ROUNDED
    * displayed statistic (round 6) so the boolean is engine-exact —
    * the boundary-crossed convention; NULL z reads NULL on all three. */
  private def karmCard(spark: SparkSession,
                       agg: DataFrame, k: Int): DataFrame = {
    val axis = spark.range(k).select(col("id").as("variant"))
    val arms = axis.join(agg, Seq("variant"), "left")
      .select(col("variant"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("conv"), lit(0L)).as("conv"))
    val ctrl = arms.filter(col("variant") === 0L)
      .select(col("n").as("n0"), col("conv").as("c0"))
    val n0 = col("n0").cast("double"); val ni = col("n").cast("double")
    val r0 = col("c0").cast("double") / n0
    val ri = col("conv").cast("double") / ni
    val pp = (col("c0") + col("conv")).cast("double") / (n0 + ni)
    val se = sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / n0 + lit(1.0) / ni))
    val noPair = col("variant") === 0L || col("n") === 0L || col("n0") === 0L
    val nullD = lit(null).cast("double")
    val nullB = lit(null).cast("boolean")
    val z = when(noPair, nullD).otherwise(
      when(pp === 0.0 || pp === 1.0, nullD)
        .otherwise((ri - r0) / se))
    val zr = abs(round(z, 6))
    val base = arms.crossJoin(broadcast(ctrl)).select(
      col("variant"), col("n"), col("conv"),
      when(col("n") === 0L, nullD).otherwise(ri).as("rate"),
      when(noPair, nullD).otherwise(ri - r0).as("lift_vs_ctrl"),
      // nested guard: pp divides by n0+ni — clear noPair first (the
      // ANSI eager-OR rule)
      z.as("z_vs_ctrl"),
      when(z.isNull, nullB)
        .otherwise(zr >= lit(BonferroniZ05.head)).as("sig_naive"),
      when(z.isNull, nullB)
        .otherwise(zr >= lit(BonferroniZ05(k - 2))).as("sig_adjusted"))
    // Holm step-down over the card's k rows (model-sized: the
    // single-partition windows are free). thresholds[j] = Z(k−1−j+1)
    // for rank j, i.e. the Bonferroni table reversed.
    val thr = array(BonferroniZ05.take(k - 1).reverse.map(lit): _*)
    val wRank = Window
      .orderBy(abs(round(col("z_vs_ctrl"), 6)).desc, col("variant"))
    val wCum = Window.orderBy(col("_rk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val holm = base.filter(col("z_vs_ctrl").isNotNull)
      .withColumn("_rk", row_number().over(wRank))
      .withColumn("_pass",
        when(abs(round(col("z_vs_ctrl"), 6)) >=
          element_at(thr, col("_rk").cast("int")), 1L).otherwise(0L))
      .withColumn("sig_holm", min(col("_pass")).over(wCum) === 1L)
      .select(col("variant"), col("sig_holm"))
    base.join(holm, Seq("variant"), "left")
      .select(col("variant"), col("n"), col("conv"), col("rate"),
        col("lift_vs_ctrl"), col("z_vs_ctrl"), col("sig_naive"),
        col("sig_adjusted"), col("sig_holm"))
  }

  /** [[readoutK]]'s card over the merged experiment store — the live
    * A/B/n dashboard: [[momentsStoreAppend]] with the same k maintains
    * per-arm rows, and the stored card equals the one-shot
    * bit-for-bit by additivity. */
  def readoutKFromStore(spark: SparkSession,
                        path: String, k: Int): DataFrame = {
    require(k >= 2 && k <= 64, s"k in [2, 64], got $k")
    karmCard(spark,
      mergedArms(spark, path, maxVariant = k - 1L)
        .select(col("variant"), col("n"), col("conv")),
      k)
  }

  /** K-arm CUPED readout — [[cupedReadout]]'s variance reduction on
    * the A/B/n axis: θ is estimated ONCE from the POOLED (all-arm)
    * covariate/outcome moments (assignment ⊥ x, so pooling is the
    * standard Deng-Xu-Kohavi-Walker practice and keeps every arm's
    * adjustment on the same scale), then each treatment arm's adjusted
    * lift vs control is (ȳᵢ − ȳ₀) − θ(x̄ᵢ − x̄₀). Same exactness
    * contract as the two-arm card: integer moment sums in decimal, a
    * handful of deterministic double steps, NULL degrade per arm
    * (empty arm / zero covariate variance). k = 2 reduces exactly to
    * [[cupedReadout]]'s card (the spec pins it).
    *
    * @return per arm: variant, n, sy, sx, theta (pooled, repeated),
    *         lift_raw, lift_cuped, var_reduction (pooled ρ², repeated) */
  def cupedReadoutK(df: DataFrame, unitExpr: String, yExpr: String,
                    xExpr: String, salt: String, k: Int): DataFrame = {
    require(k >= 2 && k <= 64, s"k in [2, 64], got $k")
    cupedKCard(df.sparkSession,
      armMoments(df, unitExpr, "false", yExpr, xExpr, salt, k), k)
  }

  /** [[cupedReadoutK]]'s card over the merged experiment store — the
    * variance-reduced A/B/n dashboard; additivity gives the one-shot
    * card bit-for-bit (arms partition units, so pooled moments are the
    * per-arm sums). */
  def cupedKFromStore(spark: SparkSession,
                      path: String, k: Int): DataFrame = {
    require(k >= 2 && k <= 64, s"k in [2, 64], got $k")
    cupedKCard(spark, mergedArms(spark, path, maxVariant = k - 1L), k)
  }

  /** The k-arm CUPED card over per-arm moment rows (variant, n, sy,
    * sx, sxx, sxy, syy) — shared by [[cupedReadoutK]] and
    * [[cupedKFromStore]] so both emit the SAME double expressions
    * bit-for-bit. */
  private def cupedKCard(spark: SparkSession,
                         agg: DataFrame, k: Int): DataFrame = {
    val zero38 = lit(0).cast(d38)
    val axis = spark.range(k).select(col("id").as("variant"))
    val arms = axis.join(agg, Seq("variant"), "left")
      .select(col("variant"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sy"), lit(0L)).as("sy"),
        coalesce(col("sx"), lit(0L)).as("sx"),
        coalesce(col("sxx"), zero38).as("sxx"),
        coalesce(col("sxy"), zero38).as("sxy"),
        coalesce(col("syy"), zero38).as("syy"))
    // pooled one-row moments → θ, exactly the two-arm card's algebra
    val pooled = arms.agg(
      sum(col("n")).cast("long").as("nn"),
      sum(col("sy")).cast(d19).as("sy_p"),
      sum(col("sx")).cast(d19).as("sx_p"),
      sum(col("sxx")).cast(d38).as("sxx_p"),
      sum(col("sxy")).cast(d38).as("sxy_p"),
      sum(col("syy")).cast(d38).as("syy_p"))
    val ctrl = arms.filter(col("variant") === 0L)
      .select(col("n").as("n0"), col("sy").as("sy0"), col("sx").as("sx0"))
    val thNum = (col("nn").cast(d19) * col("sxy_p")
      - (col("sx_p") * col("sy_p")).cast(d38)).cast(d38)
    val thDen = (col("nn").cast(d19) * col("sxx_p")
      - (col("sx_p") * col("sx_p")).cast(d38)).cast(d38)
    val syc = (col("nn").cast(d19) * col("syy_p")
      - (col("sy_p") * col("sy_p")).cast(d38)).cast(d38)
    val theta = thNum.cast("double") / thDen.cast("double")
    val noPair = col("variant") === 0L || col("n") === 0L || col("n0") === 0L
    val nullD = lit(null).cast("double")
    val meanDiffY = col("sy").cast("double") / col("n").cast("double") -
      col("sy0").cast("double") / col("n0").cast("double")
    val meanDiffX = col("sx").cast("double") / col("n").cast("double") -
      col("sx0").cast("double") / col("n0").cast("double")
    arms.crossJoin(broadcast(ctrl)).crossJoin(broadcast(pooled)).select(
      col("variant"), col("n"), col("sy"), col("sx"),
      // nested guards: theta divides by thDen — clear the degenerate
      // case first (the ANSI eager-OR rule)
      when(thDen === zero38, nullD).otherwise(theta).as("theta"),
      when(noPair, nullD).otherwise(meanDiffY).as("lift_raw"),
      when(noPair, nullD).otherwise(
        when(thDen === zero38, nullD)
          .otherwise(meanDiffY - theta * meanDiffX)).as("lift_cuped"),
      when(thDen === zero38 || syc === zero38, nullD)
        .otherwise((thNum.cast("double") * thNum.cast("double")) /
          (thDen.cast("double") * syc.cast("double"))).as("var_reduction"))
  }

  /** [[srmCheckK]]'s verdict over the merged store's per-arm unit
    * counts — the A/B/n guardrail on the live dashboard. */
  def srmKFromStore(spark: SparkSession, path: String,
                    k: Int, thrNum: Long, thrDen: Long): DataFrame = {
    require(k >= 2 && k <= 64, s"k in [2, 64], got $k")
    require(thrNum >= 0 && thrDen >= 1, s"threshold $thrNum/$thrDen invalid")
    srmKCard(sums(mergedArms(spark, path, maxVariant = k - 1L), Nil,
      pivot(armsK(k), stored("n"))), k, thrNum, thrDen)
  }

  /** K-ARM [[srmCheck]] — the uniform-split chi-square over k arms:
    * chi2 = Σ(n_i − n/k)²/(n/k) = Σ(k·n_i − n)²/(k·n), all-integer
    * numerator (the srm_num convention generalized), DECIMAL verdict
    * compare. The threshold is REQUIRED (df = k − 1 varies: 599/100
    * for k = 3, 781/100 for k = 4 at α = 0.05, stricter in production).
    *
    * @return one row: k, n_units, n_0..n_<k-1>, chi2_num (= Σ(k·n_i −
    *         n)²), chi2_den (= k·n), srm_chi2, mismatch */
  def srmCheckK(df: DataFrame, unitExpr: String, salt: String, k: Int,
                thrNum: Long, thrDen: Long): DataFrame = {
    require(k >= 2 && k <= 64, s"k in [2, 64], got $k")
    require(thrNum >= 0 && thrDen >= 1, s"threshold $thrNum/$thrDen invalid")
    srmKCard(sums(assigned(df, unitExpr, salt, Nil, k = k), Nil,
      pivot(armsK(k), cell("n", lit(1L)))), k, thrNum, thrDen)
  }

  private def srmKCard(agg: DataFrame, k: Int, thrNum: Long,
                       thrDen: Long): DataFrame = {
    val n = (0 until k).map(i => col(s"n_$i")).reduce(_ + _)
    val chi2num = (0 until k).map { i =>
      val d = lit(k.toLong) * col(s"n_$i") - n
      (d.cast(d19) * d.cast(d19)).cast(d38)
    }.reduce(_ + _).cast(d38)
    val chi2den = lit(k.toLong) * n
    agg.select((Seq(lit(k).as("k"), n.as("n_units")) ++
      (0 until k).map(i => col(s"n_$i")) ++
      Seq(chi2num.cast("long").as("chi2_num"), chi2den.as("chi2_den"),
        when(n === 0L, lit(null).cast("double"))
          .otherwise(chi2num.cast("double") / chi2den.cast("double"))
          .as("srm_chi2"),
        (chi2num * lit(thrDen).cast(d19) >
          (lit(thrNum).cast(d19) * chi2den.cast(d19)).cast(d38))
          .as("mismatch"))): _*)
  }

  /** CUPED-adjusted experiment readout (Deng, Xu, Kohavi & Walker,
    * WSDM 2013): reduce metric variance with a pre-experiment
    * covariate — adjusted metric y' = y − θ(x − x̄) with
    * θ = cov(x,y)/var(x) pooled across arms. The LIFT on y' needs no
    * per-row adjusted values at all: algebraically
    * lift_cuped = (ȳ_b − ȳ_a) − θ·(x̄_b − x̄_a), so the whole card is
    * a handful of deterministic double ops over DECIMAL-exact integer
    * moment sums (per-unit metric/covariate totals are integers) —
    * engine-replayable where a per-row adjusted-sum would be an
    * order-dependent float fold. var_reduction = ρ²(x,y) is the
    * fraction of metric variance the covariate removes (the
    * sample-size multiplier the experimenter reads).
    *
    * Assignment is the same sticky md5-bit bucketing as [[readout]].
    * θ/lift_cuped/var_reduction are NULL on an empty arm or a
    * zero-variance covariate (falls back to reading lift_raw).
    *
    * @param yExpr per-row metric contribution (summed per unit; integer)
    * @param xExpr per-row PRE-EXPERIMENT covariate contribution (must
    *              be causally prior to assignment — same unit's metric
    *              last period is the standard choice)
    * @return one row: n_a, n_b, sy_a, sy_b, theta, lift_raw,
    *         lift_cuped, var_reduction */
  def cupedReadout(df: DataFrame, unitExpr: String, yExpr: String,
                   xExpr: String, salt: String): DataFrame = {
    val units = assigned(df, unitExpr, salt,
      Seq(metric(yExpr, "y"), metric(xExpr, "x")))
    cupedCard(sums(units, Nil,
      pivot(ab, cell("n", lit(1L)), cell("sy", col("y")), cell("sx", col("x"))) ++
        Seq(total("sxx", prod("x", "x"), d38), total("sxy", prod("x", "y"), d38),
          total("syy", prod("y", "y"), d38))))
  }

  /** The CUPED card over pre-aggregated moment sums (n_a, n_b, sy_a,
    * sy_b, sx_a, sx_b, sxx, sxy, syy — the last three POOLED across
    * arms) — shared by the one-shot [[cupedReadout]] and
    * [[cupedFromStore]] so both emit the SAME double expressions
    * bit-for-bit. */
  private def cupedCard(agg: DataFrame,
                        gc: Seq[Column] = Nil): DataFrame = {
    val n = col("n_a") + col("n_b")
    val sx = (col("sx_a") + col("sx_b")).cast(d19)
    val sy = (col("sy_a") + col("sy_b")).cast(d19)
    val thNum = (n.cast(d19) * col("sxy") - (sx * sy).cast(d38)).cast(d38)
    val thDen = (n.cast(d19) * col("sxx") - (sx * sx).cast(d38)).cast(d38)
    val syc = (n.cast(d19) * col("syy") - (sy * sy).cast(d38)).cast(d38)
    val theta = thNum.cast("double") / thDen.cast("double")
    val meanDiffY = col("sy_b").cast("double") / col("n_b").cast("double") -
      col("sy_a").cast("double") / col("n_a").cast("double")
    val meanDiffX = col("sx_b").cast("double") / col("n_b").cast("double") -
      col("sx_a").cast("double") / col("n_a").cast("double")
    val emptyArm = col("n_a") === 0L || col("n_b") === 0L
    val degenerate = emptyArm || thDen === lit(0).cast(d38)
    agg.select((gc ++ Seq(col("n_a"), col("n_b"), col("sy_a"), col("sy_b"),
      when(degenerate, lit(null).cast("double")).otherwise(theta).as("theta"),
      when(emptyArm, lit(null).cast("double")).otherwise(meanDiffY)
        .as("lift_raw"),
      when(degenerate, lit(null).cast("double"))
        .otherwise(meanDiffY - theta * meanDiffX).as("lift_cuped"),
      when(degenerate || syc === lit(0).cast(d38), lit(null).cast("double"))
        .otherwise((thNum.cast("double") * thNum.cast("double")) /
          (thDen.cast("double") * syc.cast("double")))
        .as("var_reduction"))): _*)
  }

  /** [[cupedFromStore]]'s HISTORY — the variance-reduced lift per
    * batch tag over the cumulative store prefix, theta re-estimated
    * from each prefix's pooled moments exactly as the as-of read does
    * (each row ≡ [[cupedFromStoreAsOf]] at that tag): did the CUPED
    * adjustment STAY stable as data arrived, or did an early theta
    * flatter the lift? One window over the model-sized store rows.
    *
    * @return per tag: tag, n_a, n_b, sy_a, sy_b, theta, lift_raw,
    *         lift_cuped, var_reduction */
  def cupedTrace(spark: SparkSession,
                 path: String): DataFrame =
    cupedCard(trace(spark, path, "cupedTrace",
      Seq("n" -> "long", "sy" -> "long", "sx" -> "long"),
      Seq("sxx" -> d38, "sxy" -> d38, "syy" -> d38)), Seq(col("tag")))

  /** Ratio-metric experiment readout with the DELTA-METHOD variance
    * (Deng, Knoblich & Lu, KDD 2018 — the standard for metrics like
    * clicks-per-view or revenue-per-session where the unit of analysis
    * is not the unit of randomization): per arm R = ΣY/ΣX over units,
    * Var(R̂) ≈ (s_yy − 2R·s_xy + R²·s_xx)/(n·x̄²), z on the arm
    * difference. A naive per-unit y_i/x_i mean is BIASED (Jensen) and
    * explodes on x_i = 0; the ratio-of-sums with delta variance is the
    * estimator that survives review.
    *
    * Exactness: per-unit sums are integers, every centered moment
    * n·S_ab − S_a·S_b is DECIMAL-exact, and the handful of remaining
    * ops are deterministic IEEE doubles mirrored verbatim in the
    * oracle. NULL ratio/z on an empty arm, an arm with ΣX = 0, or
    * n < 2 per arm (no variance to estimate).
    *
    * @return one row: n_a, n_b, sx_a, sy_a, sx_b, sy_b, ratio_a,
    *         ratio_b, diff, z */
  def ratioReadout(df: DataFrame, unitExpr: String, xExpr: String,
                   yExpr: String, salt: String): DataFrame = {
    val units = assigned(df, unitExpr, salt,
      Seq(metric(xExpr, "x"), metric(yExpr, "y")))
    val j = sums(units, Nil, pivot(ab, cell("n", lit(1L)), cell("sx", col("x")),
      cell("sy", col("y")), cell("sxx", prod("x", "x"), d38),
      cell("sxy", prod("x", "y"), d38), cell("syy", prod("y", "y"), d38)))
    // per-arm pieces, each mirrored verbatim in the oracle SQL
    def pieces(s: String): (Column, Column) = {
      val n = col(s"n_$s"); val sx = col(s"sx_$s"); val sy = col(s"sy_$s")
      val r = sy.cast("double") / sx.cast("double")
      def cm(sab: Column, sa: Column, sb: Column): Column =
        (n.cast(d19) * sab - (sa.cast(d19) * sb.cast(d19)).cast(d38))
          .cast(d38).cast("double") /
          (n.cast("double") * (n - 1L).cast("double"))
      val xbar = sx.cast("double") / n.cast("double")
      val v = (cm(col(s"syy_$s"), sy, sy) -
        lit(2.0) * r * cm(col(s"sxy_$s"), sx, sy) +
        r * r * cm(col(s"sxx_$s"), sx, sx)) /
        (n.cast("double") * xbar * xbar)
      (r, v)
    }
    val (ra, va) = pieces("a"); val (rb, vb) = pieces("b")
    val bad = col("n_a") < 2L || col("n_b") < 2L ||
      col("sx_a") === 0L || col("sx_b") === 0L
    val nullD = lit(null).cast("double")
    j.select(col("n_a"), col("n_b"), col("sx_a"), col("sy_a"),
      col("sx_b"), col("sy_b"),
      when(bad, nullD).otherwise(ra).as("ratio_a"),
      when(bad, nullD).otherwise(rb).as("ratio_b"),
      when(bad, nullD).otherwise(rb - ra).as("diff"),
      // nested guard: the variance condition itself divides by per-arm
      // denominators, so it must only evaluate once `bad` is cleared
      // (ANSI division errors are eager inside a flat OR condition)
      when(bad, nullD).otherwise(
        when(va + vb <= lit(0.0), nullD)
          .otherwise((rb - ra) / sqrt(va + vb))).as("z"))
  }

  /** Minimum-detectable-effect planner: given the traffic THIS
    * assignment actually produced and the pooled base rate, the
    * smallest absolute lift the two-proportion z test would flag —
    * mde = (z_α/2 + z_β)·√(2·p(1−p)/n_harm), n_harm the harmonic
    * per-arm size 2/(1/n_a + 1/n_b). The answer to "is it worth
    * launching this experiment yet". z quantiles are caller-supplied
    * CONSTANTS (defaults: two-sided α = 0.05, power 0.80 → 1.959964 +
    * 0.841621), so the card is deterministic doubles over exact
    * counts, no erf anywhere. p_pool is NULL on an empty arm; mde_abs
    * is ALSO NULL on a degenerate pooled rate (0 or 1 — a zero
    * binomial variance means "nothing to test", not "any effect is
    * detectable", which is what an mde_abs of 0.0 would read as).
    *
    * @return one row: n_a, n_b, conv_a, conv_b, p_pool, mde_abs */
  def mdeCard(df: DataFrame, unitExpr: String, convExpr: String,
              salt: String, zAlpha: Double = 1.959964,
              zBeta: Double = 0.841621): DataFrame = {
    val agg = conversionArms(df, unitExpr, convExpr, salt)
    val p = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val emptyArm = col("n_a") === 0L || col("n_b") === 0L
    val degenerate = emptyArm ||
      col("conv_a") + col("conv_b") === 0L ||
      col("conv_a") + col("conv_b") === col("n_a") + col("n_b")
    agg.select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      when(emptyArm, lit(null).cast("double")).otherwise(p).as("p_pool"),
      when(degenerate, lit(null).cast("double"))
        .otherwise(lit(zAlpha + zBeta) *
          sqrt(p * (lit(1.0) - p) *
            (lit(1.0) / col("n_a").cast("double") +
              lit(1.0) / col("n_b").cast("double")))).as("mde_abs"))
  }

  /** Wilson score intervals for both arms' conversion rates (Wilson
    * 1927 — the interval that behaves at small n and extreme p where
    * the Wald ±z√(p(1−p)/n) collapses to zero width or exits [0,1]):
    * center (p + z²/2n)/(1 + z²/n), half-width
    * z·√(p(1−p)/n + z²/4n²)/(1 + z²/n). Deterministic doubles over
    * exact counts, z a shared literal constant; `overlap` is the
    * quick non-significance read (interval overlap is CONSERVATIVE —
    * arms can overlap yet differ significantly; [[readout]]'s z is
    * the test). NULL bounds on an empty arm.
    *
    * @return one row: n_a, conv_a, rate_a, lo_a, hi_a, n_b, conv_b,
    *         rate_b, lo_b, hi_b, overlap */
  def wilsonCi(df: DataFrame, unitExpr: String, convExpr: String,
               salt: String, z: Double = 1.959964): DataFrame = {
    val agg = conversionArms(df, unitExpr, convExpr, salt)
    def bounds(nC: Column, convC: Column): (Column, Column, Column) = {
      val n = nC.cast("double"); val p = convC.cast("double") / n
      val z2 = lit(z) * lit(z)
      val denom = lit(1.0) + z2 / n
      val center = (p + z2 / (lit(2.0) * n)) / denom
      val half = lit(z) * sqrt(p * (lit(1.0) - p) / n +
        z2 / (lit(4.0) * n * n)) / denom
      (p, center - half, center + half)
    }
    val (ra, loA, hiA) = bounds(col("n_a"), col("conv_a"))
    val (rb, loB, hiB) = bounds(col("n_b"), col("conv_b"))
    val emptyArm = col("n_a") === 0L || col("n_b") === 0L
    val nullD = lit(null).cast("double")
    agg.select(col("n_a"), col("conv_a"),
      when(emptyArm, nullD).otherwise(ra).as("rate_a"),
      when(emptyArm, nullD).otherwise(loA).as("lo_a"),
      when(emptyArm, nullD).otherwise(hiA).as("hi_a"),
      col("n_b"), col("conv_b"),
      when(emptyArm, nullD).otherwise(rb).as("rate_b"),
      when(emptyArm, nullD).otherwise(loB).as("lo_b"),
      when(emptyArm, nullD).otherwise(hiB).as("hi_b"),
      when(emptyArm, lit(null).cast("boolean"))
        .otherwise(loB <= hiA && loA <= hiB).as("overlap"))
  }

  /** Sample-ratio-mismatch guardrail — the FIRST check a trustworthy
    * experiment platform runs (Kohavi et al.: a small assignment
    * imbalance correlated with anything invalidates every downstream
    * readout): chi-square of the observed arm split against the
    * designed 50/50, chi2 = (n_a − n_b)²/(n_a + n_b), 1 df. All
    * integers but one division, and the verdict itself is a RATIONAL
    * compare (srm_num·thrDen > thrNum·srm_den) so both engines agree
    * bit-for-bit — the [[graft.ops.Stats.ksDriftFromStore]] threshold
    * convention. Default threshold 384/100 ≈ the 3.84 α = 0.05 cut;
    * platforms commonly alarm stricter (p < 0.001 → 1083/100).
    *
    * @return one row: n_units, n_a, n_b, srm_num (= (n_a−n_b)²),
    *         srm_den (= n_a+n_b), srm_chi2, mismatch */
  def srmCheck(df: DataFrame, unitExpr: String, salt: String,
               thrNum: Long = 384L, thrDen: Long = 100L): DataFrame = {
    require(thrNum >= 0 && thrDen >= 1, s"threshold $thrNum/$thrDen invalid")
    srmCard(sums(assigned(df, unitExpr, salt, Nil), Nil,
      pivot(ab, cell("n", lit(1L)))), thrNum, thrDen)
  }

  /** [[srmCheck]] read off the experiment store's merged per-arm unit
    * counts — the guardrail ON the live dashboard: every
    * [[readoutFromStore]] consumer checks this first, and it costs one
    * scan of the model-sized store. Inherits the store's
    * unit-partitioning contract. */
  def srmFromStore(spark: SparkSession, path: String,
                   thrNum: Long = 384L, thrDen: Long = 100L): DataFrame = {
    require(thrNum >= 0 && thrDen >= 1, s"threshold $thrNum/$thrDen invalid")
    srmCard(sums(mergedArms(spark, path), Nil, pivot(ab, stored("n"))),
      thrNum, thrDen)
  }

  /** Emission bound: srm_num = (n_a−n_b)² is a long, so the card
    * dies loudly (ANSI overflow) at |n_a−n_b| > 3.03e9 — far beyond
    * any survivable imbalance. The VERDICT compare runs in
    * DECIMAL(38,0) so it holds to the same bound (a long compare
    * would die 10× earlier at the default thrDen = 100, killing the
    * guardrail exactly when it should alarm). */
  private def srmCard(agg: DataFrame, thrNum: Long, thrDen: Long,
                      gc: Seq[Column] = Nil): DataFrame = {
    val d = col("n_a") - col("n_b")
    agg.select((gc ++ Seq((col("n_a") + col("n_b")).as("n_units"),
      col("n_a"), col("n_b"),
      (d * d).as("srm_num"),
      (col("n_a") + col("n_b")).as("srm_den"),
      when(col("n_a") + col("n_b") === 0L, lit(null).cast("double"))
        .otherwise((d * d).cast("double") /
          (col("n_a") + col("n_b")).cast("double")).as("srm_chi2"),
      ((d.cast(d19) * d.cast(d19)).cast(d38) * lit(thrDen).cast(d19) >
        (lit(thrNum).cast(d19) * (col("n_a") + col("n_b")).cast(d19))
          .cast(d38))
        .as("mismatch"))): _*)
  }

  /** [[srmFromStore]]'s HISTORY — the guardrail per batch tag over the
    * cumulative store prefix (the [[readoutTrace]] window over the
    * same model-sized rows): WHEN did the split break, not just
    * whether it is broken now — the first alarming tag localizes the
    * ingest batch that skewed the assignment. Each row ≡
    * [[srmFromStore]] cut at that tag.
    *
    * @return per tag: tag, n_units, n_a, n_b, srm_num, srm_den,
    *         srm_chi2, mismatch */
  def srmTrace(spark: SparkSession, path: String,
               thrNum: Long = 384L, thrDen: Long = 100L): DataFrame = {
    require(thrNum >= 0 && thrDen >= 1, s"threshold $thrNum/$thrDen invalid")
    srmCard(trace(spark, path, "srmTrace", Seq("n" -> "long")),
      thrNum, thrDen, Seq(col("tag")))
  }

  /** Deterministic permutation test on the conversion lift — the
    * re-randomization significance check that needs NO normal
    * approximation and no erf (the exactness-friendly alternative to
    * [[readout]]'s z when arms are small or rates extreme): units'
    * conversions are FIXED, assignment is re-drawn under `rounds`
    * alternative salts `<salt>#<r>`, and
    * p = (1 + #{r : |lift_r| ≥ |lift_obs|}) / (rounds + 1) — the
    * add-one form that counts the observed assignment as one of its
    * own permutations (Phipson & Smyth 2010), never reporting p = 0.
    * Every lift is the same deterministic double expression in both
    * engines, so the comparison count — and with it p_num/p_den — is
    * engine-exact. A permutation that lands an empty arm counts as
    * |lift| ≥ anything (conservative, deterministic); p_value is NULL
    * when the OBSERVED assignment has an empty arm.
    *
    * Scale: the rounds-fold explode is transient map-side CPU —
    * partial aggregation collapses each partition to ≤ rounds+1 rows
    * before the shuffle (the [[graft.ops.Stats.poissonBootstrap]]
    * shape); everything after is model-sized.
    *
    * @return one row: rounds, n_units, lift_obs, p_num, p_den,
    *         p_value */
  def permutationTest(df: DataFrame, unitExpr: String, convExpr: String,
                      salt: String, rounds: Int = 199): DataFrame = {
    require(rounds >= 1 && rounds <= 9999,
      s"rounds in [1, 9999], got $rounds")
    val units = unitGrain(df, unitExpr, Seq(converted(convExpr)))
    // r = -1 is the observed assignment (the salt itself); r ≥ 0 the
    // re-draws — one explode, one keyed aggregation
    val rep = units.select(col("unit"), col("converted"),
        explode(expr(s"sequence(-1, ${rounds - 1})")).as("r"))
      .withColumn("saltr",
        when(col("r") === -1L, lit(salt))
          .otherwise(concat(lit(s"$salt#"), col("r").cast("string"))))
      .withColumn("variant", variant(col("saltr"), 2))
    val perR = sums(rep, Seq(col("r")),
      pivot(ab, cell("n", lit(1L)), cell("conv", col("converted"))))
    val lift = when(col("n_a") === 0L || col("n_b") === 0L,
        lit(null).cast("double"))
      .otherwise(col("conv_b").cast("double") / col("n_b").cast("double") -
        col("conv_a").cast("double") / col("n_a").cast("double"))
    val lifted = perR.select(col("r"), lift.as("lift"))
    val obs = lifted.filter(col("r") === -1L)
      .select(col("lift").as("lift_obs"))
    val nu = units.agg(count(lit(1)).cast("long").as("n_units"))
    val counted = lifted.filter(col("r") >= 0L)
      .crossJoin(broadcast(obs))
      .agg(count(lit(1)).cast("long").as("rounds"),
        max(col("lift_obs")).as("lift_obs"),
        sum(when(col("lift").isNull ||
            abs(col("lift")) >= abs(col("lift_obs")), 1L).otherwise(0L))
          .cast("long").as("ge"))
    // p_num/p_den NULL alongside p_value when the observed assignment
    // has an empty arm: ge then counts only empty-arm permutations, so
    // the integer fraction would read as a plausible exact p while
    // meaning nothing
    counted.crossJoin(nu).select(
      col("rounds"), col("n_units"), col("lift_obs"),
      when(col("lift_obs").isNull, lit(null).cast("long"))
        .otherwise(col("ge") + 1L).as("p_num"),
      when(col("lift_obs").isNull, lit(null).cast("long"))
        .otherwise(col("rounds") + 1L).as("p_den"),
      when(col("lift_obs").isNull, lit(null).cast("double"))
        .otherwise((col("ge") + 1L).cast("double") /
          (col("rounds") + 1L).cast("double")).as("p_value"))
  }

  /** MDE planner for a CONTINUOUS per-unit metric — [[mdeCard]]'s
    * companion for revenue/length/latency outcomes: with the traffic
    * this assignment produced and the POOLED unit-level variance
    * s² = (n·Σy² − (Σy)²)/(n·(n−1)) (DECIMAL-exact), the smallest
    * absolute mean shift the two-sample z test would flag:
    * mde_abs = (z_α/2 + z_β)·√(s²·(1/n_a + 1/n_b)). NULL on an empty
    * arm, n < 2, or zero variance (a constant metric: nothing to
    * test). The centered moment n·Σy² − (Σy)² stays DECIMAL(38)
    * internally (it exceeds long at corpus scale); only the one-shot
    * double s² is emitted.
    *
    * @return one row: n_a, n_b, sy, s2, mde_abs */
  def mdeMeanCard(df: DataFrame, unitExpr: String, yExpr: String,
                  salt: String, zAlpha: Double = 1.959964,
                  zBeta: Double = 0.841621): DataFrame = {
    val agg = sums(assigned(df, unitExpr, salt, Seq(metric(yExpr, "y"))), Nil,
      pivot(ab, cell("n", lit(1L))) ++
        Seq(total("sy", col("y")), total("syy", prod("y", "y"), d38)))
    val n = col("n_a") + col("n_b")
    val s2num = (n.cast(d19) * col("syy") -
      (col("sy").cast(d19) * col("sy").cast(d19)).cast(d38)).cast(d38)
    val s2 = s2num.cast("double") /
      (n.cast("double") * (n - 1L).cast("double"))
    val bad = col("n_a") === 0L || col("n_b") === 0L || n < 2L
    val nullD = lit(null).cast("double")
    agg.select(col("n_a"), col("n_b"), col("sy"),
      // nested guard: s2 divides by n(n−1) — ANSI evaluates eagerly
      // inside a flat condition, so clear `bad` first
      when(bad, nullD).otherwise(s2).as("s2"),
      when(bad, nullD).otherwise(
        when(s2num === lit(0).cast(d38), nullD)
          .otherwise(lit(zAlpha + zBeta) *
            sqrt(s2 * (lit(1.0) / col("n_a").cast("double") +
              lit(1.0) / col("n_b").cast("double"))))).as("mde_abs"))
  }

  /** Continuous-metric experiment readout — Welch's unequal-variance t
    * (the default the equal-variance pooled t is not: arms routinely
    * differ in variance when the treatment works) over per-unit metric
    * sums: mean lift, t = (ȳ_b − ȳ_a)/√(s²_a/n_a + s²_b/n_b), and the
    * Welch–Satterthwaite df the reader needs to interpret t at small
    * n. Per-arm variances are DECIMAL-exact centered moments
    * ((n·Σy² − (Σy)²)/(n(n−1))); t and df are the same handful of
    * deterministic double ops in both engines. NULL t/df on an empty
    * arm, an arm with n < 2, or two zero variances (nothing to test —
    * but lift still reads).
    *
    * @return one row: n_a, n_b, sy_a, sy_b, mean_a, mean_b, lift,
    *         t_welch, df_welch */
  def meanReadout(df: DataFrame, unitExpr: String, yExpr: String,
                  salt: String): DataFrame =
    meanCard(sums(assigned(df, unitExpr, salt, Seq(metric(yExpr, "y"))), Nil,
      pivot(ab, meanCells: _*)))

  /** WINSORIZED [[meanReadout]] — the heavy-tail-robust Welch card:
    * per-unit metric sums are capped at the POOLED distribution's
    * caller-chosen quantile (capNum/capDen, e.g. 99/100) before the
    * moment sums, so one whale cannot own the lift. The cap is the
    * exact bucketed quantile ([[Quantiles]]' integer ⌈q·N⌉ selection
    * at `bucketWidth` resolution — an INTEGER, so the winsorized sums
    * stay integers and the card stays engine-exact; the bucket
    * rounding is part of the estimator's definition, the dyadic-table
    * convention). One extra model-sized aggregation for the cap
    * (broadcast back as a one-row cross join); everything else is
    * [[meanReadout]]'s shape.
    *
    * @return one row: cap, n_a, n_b, sy_a, sy_b, mean_a, mean_b,
    *         lift, t_welch, df_welch — sy/means/t over capped values */
  def winsorizedMeanReadout(df: DataFrame, unitExpr: String, yExpr: String,
                            salt: String, bucketWidth: Long,
                            capNum: Int, capDen: Int): DataFrame = {
    require(capNum >= 1 && capDen >= capNum,
      s"cap quantile $capNum/$capDen invalid")
    val units = assigned(df, unitExpr, salt, Seq(metric(yExpr, "y"))).persist()
    // EAGER count: (a) materializes the persisted unit grain once for
    // its two consumers (the cap histogram and the moment sums), and
    // (b) guards the empty-input case — Quantiles.quantiles takes a
    // driver-side max(cum) that has no value on an empty histogram.
    // Empty input degrades to the NULL card (meanCard's emptyArm
    // path, cap NULL), exactly like meanReadout.
    val nUnits = units.count()
    val capRow =
      if (nUnits == 0L)
        df.sparkSession.range(1).select(lit(null).cast("long").as("cap"))
      else
        Quantiles.quantiles(
            Quantiles.histogram(units, "y", bucketWidth),
            Seq(("cap", capNum, capDen)), bucketWidth)
          .select(col("lo").as("cap"))
    val capped = units.crossJoin(broadcast(capRow))
      .select(col("variant"), col("cap"),
        least(col("y"), col("cap")).as("y"))
    // the card is ONE row: materialize it (leaf plan), then release
    // the unit grain deterministically — no caller clearCache debt
    val out = meanCard(sums(capped, Nil,
      max(col("cap")).as("cap") +: pivot(ab, meanCells: _*)),
      Seq(col("cap"))).localCheckpoint(true)
    units.unpersist()
    out
  }

  /** GROUPED [[srmCheck]] — one sample-ratio verdict per SEGMENT (the
    * per-cohort/per-platform guardrail drill-down: a global split can
    * pass while one segment's is broken by a segment-local logging or
    * bucketing bug). The segment expression must be a UNIT attribute
    * (constant per unit) — a unit landing in two segments is counted
    * in both, which is exactly the data bug the per-segment card then
    * surfaces as paired mismatches.
    *
    * @return per segment: segment, n_units, n_a, n_b, srm_num,
    *         srm_den, srm_chi2, mismatch */
  def srmCheckBy(df: DataFrame, segmentExpr: String, unitExpr: String,
                 salt: String, thrNum: Long = 384L,
                 thrDen: Long = 100L): DataFrame = {
    require(thrNum >= 0 && thrDen >= 1, s"threshold $thrNum/$thrDen invalid")
    val units = assigned(df, unitExpr, salt, Nil,
      Seq(expr(segmentExpr).as("segment")))
    srmCard(sums(units, Seq(col("segment")), pivot(ab, cell("n", lit(1L)))),
      thrNum, thrDen, Seq(col("segment")))
  }

  /** [[meanReadout]]'s card over the merged experiment store (per-arm
    * n/sy/syy are exactly what [[momentsStoreAppend]] maintains) — the
    * live continuous-metric dashboard next to [[readoutFromStore]]'s
    * conversion one. */
  def meanReadoutFromStore(spark: SparkSession,
                           path: String): DataFrame =
    meanCard(armsToMeanAgg(mergedArms(spark, path)))

  /** [[meanReadoutFromStore]] cut at a batch tag — the audit read. */
  def meanReadoutFromStoreAsOf(spark: SparkSession,
                               path: String, asOfTag: String): DataFrame =
    meanCard(armsToMeanAgg(mergedArms(spark, path, Some(asOfTag))))

  private def armsToMeanAgg(merged: DataFrame): DataFrame =
    sums(merged, Nil, pivot(ab, stored("n"), stored("sy"), stored("syy", d38)))

  private def meanCard(agg: DataFrame,
                       gc: Seq[Column] = Nil): DataFrame = {
    def v(sfx: String): Column = {
      val n = col(s"n_$sfx")
      ((n.cast(d19) * col(s"syy_$sfx")).cast(d38) -
        (col(s"sy_$sfx").cast(d19) * col(s"sy_$sfx").cast(d19)).cast(d38))
        .cast(d38).cast("double") /
        (n.cast("double") * (n - 1L).cast("double"))
    }
    val meanA = col("sy_a").cast("double") / col("n_a").cast("double")
    val meanB = col("sy_b").cast("double") / col("n_b").cast("double")
    val emptyArm = col("n_a") === 0L || col("n_b") === 0L
    val tiny = emptyArm || col("n_a") < 2L || col("n_b") < 2L
    val ua = v("a") / col("n_a").cast("double")
    val ub = v("b") / col("n_b").cast("double")
    val nullD = lit(null).cast("double")
    agg.select((gc ++ Seq(col("n_a"), col("n_b"), col("sy_a"), col("sy_b"),
      when(emptyArm, nullD).otherwise(meanA).as("mean_a"),
      when(emptyArm, nullD).otherwise(meanB).as("mean_b"),
      when(emptyArm, nullD).otherwise(meanB - meanA).as("lift"),
      // nested guards: the variance terms divide by n(n−1) — clear
      // `tiny` before evaluating them (the ANSI eager-OR rule)
      when(tiny, nullD).otherwise(
        when(ua + ub <= lit(0.0), nullD)
          .otherwise((meanB - meanA) / sqrt(ua + ub))).as("t_welch"),
      when(tiny, nullD).otherwise(
        when(ua + ub <= lit(0.0), nullD)
          .otherwise((ua + ub) * (ua + ub) /
            (ua * ua / (col("n_a").cast("double") - lit(1.0)) +
              ub * ub / (col("n_b").cast("double") - lit(1.0)))))
        .as("df_welch"))): _*)
  }

  /** Post-stratified experiment readout over CALLER-NAMED strata (the
    * [[graft.ops.Stats.kruskalWallis]] fixed-domain convention, so the
    * stratum fold is deterministic left-to-right — never an
    * order-dependent float aggregation): lift_post = Σ_s w_s·(p_bs −
    * p_as) with w_s = n_s/n, the variance-reduction CUPED's continuous
    * covariate cannot give a categorical one (country, platform,
    * acquisition channel — measured BEFORE assignment), plus
    * z_post from Var = Σ_s w_s²·(p_as(1−p_as)/n_as + p_bs(1−p_bs)/n_bs).
    * A unit's stratum is its MINIMUM label across rows (deterministic
    * under mixed labels); units outside the named strata are excluded
    * and counted loudly in n_other. All counts exact; the handful of
    * double ops are mirrored verbatim. NULL post columns when any
    * named stratum has an empty arm (w_s is still defined, the
    * stratum lift is not).
    *
    * @return one row: n_a, n_b, n_other, conv_a, conv_b, lift_raw,
    *         lift_post, z_post */
  def stratifiedReadout(df: DataFrame, unitExpr: String, convExpr: String,
                        strataExpr: String, strata: Seq[String],
                        salt: String): DataFrame = {
    require(strata.size >= 2 && strata.size <= 16,
      s"2..16 named strata, got ${strata.size}")
    require(strata.distinct.size == strata.size, "duplicate stratum names")
    val units = assigned(df, unitExpr, salt, Seq(converted(convExpr),
      (expr(strataExpr).cast("string").as("st"), min(col("st")).as("st"))))
    val named = col("st").isin(strata.map(_.asInstanceOf[Any]): _*)
    val aggs = Seq(
      coalesce(sum(when(!named || col("st").isNull, 1L).otherwise(0L)),
        lit(0L)).cast("long").as("n_other")) ++
      strata.flatMap { s =>
        val in = named && col("st") === s
        Seq(
          coalesce(sum(when(in && col("variant") === 0L, 1L).otherwise(0L)),
            lit(0L)).cast("long").as(s"na_$s"),
          coalesce(sum(when(in && col("variant") === 0L, col("converted"))
            .otherwise(0L)), lit(0L)).cast("long").as(s"ca_$s"),
          coalesce(sum(when(in && col("variant") === 1L, 1L).otherwise(0L)),
            lit(0L)).cast("long").as(s"nb_$s"),
          coalesce(sum(when(in && col("variant") === 1L, col("converted"))
            .otherwise(0L)), lit(0L)).cast("long").as(s"cb_$s"))
      }
    val agg = units.agg(aggs.head, aggs.tail: _*)
    val nA = strata.map(s => col(s"na_$s")).reduce(_ + _)
    val nB = strata.map(s => col(s"nb_$s")).reduce(_ + _)
    val cA = strata.map(s => col(s"ca_$s")).reduce(_ + _)
    val cB = strata.map(s => col(s"cb_$s")).reduce(_ + _)
    val n = nA + nB
    def w(s: String) = (col(s"na_$s") + col(s"nb_$s")).cast("double") /
      n.cast("double")
    def pA(s: String) = col(s"ca_$s").cast("double") /
      col(s"na_$s").cast("double")
    def pB(s: String) = col(s"cb_$s").cast("double") /
      col(s"nb_$s").cast("double")
    val liftPost = strata.map(s => w(s) * (pB(s) - pA(s))).reduce(_ + _)
    val varPost = strata.map(s => w(s) * w(s) *
      (pA(s) * (lit(1.0) - pA(s)) / col(s"na_$s").cast("double") +
        pB(s) * (lit(1.0) - pB(s)) / col(s"nb_$s").cast("double")))
      .reduce(_ + _)
    val anyEmpty = strata.map(s =>
      col(s"na_$s") === 0L || col(s"nb_$s") === 0L).reduce(_ || _)
    val liftRaw = cB.cast("double") / nB.cast("double") -
      cA.cast("double") / nA.cast("double")
    val nullD = lit(null).cast("double")
    agg.select(nA.as("n_a"), nB.as("n_b"), col("n_other"),
      cA.as("conv_a"), cB.as("conv_b"),
      when(nA === 0L || nB === 0L, nullD).otherwise(liftRaw).as("lift_raw"),
      when(anyEmpty, nullD).otherwise(liftPost).as("lift_post"),
      // nested guard: a zero post-variance (all-converted strata)
      // must read NULL, never Inf
      when(anyEmpty, nullD).otherwise(
        when(varPost === 0.0, nullD)
          .otherwise(liftPost / sqrt(varPost))).as("z_post"))
  }

  /** Quantile treatment effects at bucket resolution — the readout for
    * HEAVY-TAILED metrics where the mean lift is one whale's noise:
    * per-arm exact bucketed quantiles ([[graft.ops.Quantiles]]'s
    * ⌈q·N⌉ integer selection over the per-arm histogram — no
    * sampling, no interpolation) at caller-named levels, and
    * qte = lo_b − lo_a per level, all integers. An empty arm leaves
    * that arm's columns NULL (full-outer on the level axis — a
    * one-sided card still reads). One histogram aggregation per arm,
    * windows over the bucket axis only.
    *
    * @return per level: p_label, target_a, lo_a, target_b, lo_b, qte */
  def quantileLift(df: DataFrame, unitExpr: String, yExpr: String,
                   salt: String, bucketWidth: Long,
                   qs: Seq[(String, Int, Int)]): DataFrame =
    qteCard(Quantiles.histogramBy(
      assigned(df, unitExpr, salt, Seq(metric(yExpr, "y"))),
      Seq("variant"), "y", bucketWidth), bucketWidth, qs)

  /** The QTE card over a per-arm histogram — shared by the one-shot
    * [[quantileLift]] and the store reads so all emit the SAME
    * integer selection bit-for-bit. */
  private def qteCard(hist: DataFrame, bucketWidth: Long,
                      qs: Seq[(String, Int, Int)]): DataFrame = {
    val q = Quantiles.quantilesBy(hist, Seq("variant"), qs, bucketWidth)
    val a = q.filter(col("variant") === 0L)
      .select(col("p_label"), col("target").as("target_a"),
        col("lo").as("lo_a"))
    val b = q.filter(col("variant") === 1L)
      .select(col("p_label"), col("target").as("target_b"),
        col("lo").as("lo_b"))
    a.join(b, Seq("p_label"), "full_outer")
      .select(col("p_label"), col("target_a"), col("lo_a"),
        col("target_b"), col("lo_b"),
        (col("lo_b") - col("lo_a")).as("qte"))
  }

  /** Append one batch's PER-ARM metric histogram into a
    * [[Quantiles.storeAppendBy]] store keyed on the variant — the
    * additive-store lifecycle for [[quantileLift]], the one experiment
    * card that otherwise rescans raw events per read: per-(arm,
    * bucket) counts add across batches, so the stored QTE equals the
    * one-shot over everything appended so far, by histogram
    * additivity. Same CONTRACT as [[momentsStoreAppend]]: batches
    * must PARTITION the randomization units (per-unit metric sums
    * only land in one bucket when no unit spans two batches);
    * exactly-once via the store's markers. */
  def quantileLiftStoreAppend(df: DataFrame, path: String, batchTag: String,
                              unitExpr: String, yExpr: String, salt: String,
                              bucketWidth: Long): Unit =
    Quantiles.storeAppendBy(
      assigned(df, unitExpr, salt, Seq(metric(yExpr, "y"))),
      path, batchTag, Seq("variant"), "y", bucketWidth)

  /** [[quantileLift]]'s card over the merged per-arm histogram store —
    * the maintained heavy-tail dashboard: reads only the model-sized
    * (arm × bucket) rows, never unit history. */
  def quantileLiftFromStore(spark: SparkSession,
                            path: String, bucketWidth: Long,
                            qs: Seq[(String, Int, Int)]): DataFrame =
    qteCard(Quantiles.fromStoreBy(spark, path, Seq("variant")),
      bucketWidth, qs)

  /** [[quantileLiftFromStore]] cut at a batch tag — the QTE card's
    * decision-audit read. */
  def quantileLiftFromStoreAsOf(spark: SparkSession,
                                path: String, asOfTag: String,
                                bucketWidth: Long,
                                qs: Seq[(String, Int, Int)]): DataFrame =
    qteCard(Quantiles.fromStoreByAsOf(spark, path, Seq("variant"), asOfTag),
      bucketWidth, qs)

  /** The QTE card per batch tag over the cumulative store prefix —
    * the heavy-tail dashboard's HISTORY, completing the trace
    * lifecycle every other experiment card has: did the p99 lift hold
    * as data arrived, or did one whale batch mint it? Each (tag, level)
    * row ≡ [[quantileLiftFromStoreAsOf]] at that tag. One broadcast
    * range-join of the model-sized (arm × bucket × tag) store rows
    * against the ≤ #tags tag axis, then per-(tag, arm) integer
    * selection.
    *
    * @return per (tag, level): tag, p_label, target_a, lo_a,
    *         target_b, lo_b, qte */
  def quantileLiftTrace(spark: SparkSession,
                        path: String, bucketWidth: Long,
                        qs: Seq[(String, Int, Int)]): DataFrame = {
    Stores.requireStore(spark, path, "append experiment batches first")
    val rows = Stores.freshRead(spark, path)
    val tags = rows.select(col("tag")).distinct()
      .withColumnRenamed("tag", "at")
    val cum = rows.join(broadcast(tags), col("tag") <= col("at"))
      .groupBy(col("at"), col("variant"), col("bucket"))
      .agg(sum(col("cnt")).cast("long").as("cnt"))
      .withColumnRenamed("at", "tag")
    val q = Quantiles.quantilesBy(cum, Seq("tag", "variant"), qs,
      bucketWidth, cache = false)
    val a = q.filter(col("variant") === 0L)
      .select(col("tag"), col("p_label"), col("target").as("target_a"),
        col("lo").as("lo_a"))
    val b = q.filter(col("variant") === 1L)
      .select(col("tag"), col("p_label"), col("target").as("target_b"),
        col("lo").as("lo_b"))
    a.join(b, Seq("tag", "p_label"), "full_outer")
      .select(col("tag"), col("p_label"), col("target_a"), col("lo_a"),
        col("target_b"), col("lo_b"),
        (col("lo_b") - col("lo_a")).as("qte"))
  }

  /** ADDITIVE experiment store: one row per (variant, batch) carrying
    * the unit count, conversion count, and metric/covariate moment
    * sums — everything [[readout]] and [[cupedReadout]] consume, in
    * the order-free additive shape the bootstrap/decay/histogram
    * stores proved (merge = plain sum per variant). The live
    * experiment dashboard: each arriving ingest shard folds in one
    * model-sized row pair; the readout after any batch is
    * BIT-IDENTICAL to the one-shot readout over everything so far.
    *
    * CONTRACT: batches must PARTITION the randomization units (shard
    * ingest by unit hash, the natural layout) — per-unit conversion
    * (an OR across the unit's rows) and per-unit squared moment sums
    * only add across batches when no unit spans two. Exactly-once via
    * [[Stores.appendCommit]] markers (sums are not idempotent), the
    * [[graft.ops.Stats.bootstrapStoreAppend]] lifecycle. */
  def momentsStoreAppend(df: DataFrame, path: String, batchTag: String,
                         unitExpr: String, convExpr: String, yExpr: String,
                         xExpr: String, salt: String, k: Int = 2): Unit = {
    require(k >= 2 && k <= 64, s"k in [2, 64], got $k")
    val spark = df.sparkSession
    val rows = armMoments(df, unitExpr, convExpr, yExpr, xExpr, salt, k)
      .withColumn("tag", lit(batchTag))
    if (!Stores.exists(spark, path, "_SUCCESS"))
      rows.limit(0).write.mode("overwrite").parquet(path)
    Stores.appendCommit(spark, path, batchTag) { staging =>
      rows.write.mode("overwrite").parquet(staging)
    }
  }

  /** Per-arm accumulator rows (variant, n, conv, sy, sx, sxx, sxy,
    * syy) for one batch — unit grain first (conversion = ANY row,
    * metric/covariate summed), then one row per arm. */
  private def armMoments(df: DataFrame, unitExpr: String, convExpr: String,
                         yExpr: String, xExpr: String, salt: String,
                         k: Int = 2): DataFrame =
    assigned(df, unitExpr, salt, Seq(converted(convExpr), metric(yExpr, "y"),
      metric(xExpr, "x")), k = k).groupBy(col("variant")).agg(
      count(lit(1)).cast("long").as("n"),
      sum(col("converted")).cast("long").as("conv"),
      sum(col("y")).cast("long").as("sy"),
      sum(col("x")).cast("long").as("sx"),
      sum(prod("x", "x")).cast(d38).as("sxx"),
      sum(prod("x", "y")).cast(d38).as("sxy"),
      sum(prod("y", "y")).cast(d38).as("syy"))

  /** The store's merged per-arm state (plain sums — the additive
    * contract), optionally cut at a batch tag (`tag <= asOfTag`) for
    * the time-travel reads.
    *
    * `maxVariant` is a LOUD guard, not a filter: [[momentsStoreAppend]]'s
    * k is caller-chosen per append, so a store appended with a larger k
    * than the reader expects would otherwise silently drop the extra
    * arms from the 0..k−1 axis — plausible-but-wrong dashboard numbers.
    * The assert rides the model-sized per-arm rows at zero plan cost
    * (the axisGuard convention); two-arm readers keep the default 1. */
  private def mergedArms(spark: SparkSession,
                         path: String,
                         asOfTag: Option[String] = None,
                         maxVariant: Long = 1L): DataFrame = {
    Stores.requireStore(spark, path, "append experiment batches first")
    val read = Stores.freshRead(spark, path)
    asOfTag.fold(read)(t => read.filter(col("tag") <= t))
      .groupBy(col("variant")).agg(
      sum(col("n")).cast("long").as("n"),
      sum(col("conv")).cast("long").as("conv"),
      sum(col("sy")).cast("long").as("sy"),
      sum(col("sx")).cast("long").as("sx"),
      sum(col("sxx")).cast(d38).as("sxx"),
      sum(col("sxy")).cast(d38).as("sxy"),
      sum(col("syy")).cast(d38).as("syy"))
      .withColumn("n", col("n") + coalesce(assert_true(
        col("variant") >= 0L && col("variant") <= lit(maxVariant),
        concat(lit(s"experiment store $path holds variant "),
          col("variant").cast("string"),
          lit(s" outside 0..$maxVariant — was it appended with a" +
            " larger k than this reader's?"))).cast("long"), lit(0L)))
  }

  /** [[readout]]'s card over the merged store — the maintained
    * conversion dashboard (rates, lift, z), never rescanning unit
    * history. */
  def readoutFromStore(spark: SparkSession,
                       path: String): DataFrame =
    readoutOverArms(mergedArms(spark, path))

  /** The dashboard's HISTORY — one [[readout]] row per batch tag over
    * the cumulative store prefix (every tag' ≤ tag): the
    * group-sequential monitoring trace an experiment review reads
    * ("when did z cross, and did it STAY crossed — or did we ship on a
    * random excursion"), computed entirely from the model-sized store
    * rows (one window over ≤ #batches rows; unit history is never
    * rescanned). Each row is bit-identical to [[readoutFromStoreAsOf]]
    * at that tag.
    *
    * @return per tag: tag, n_a, conv_a, n_b, conv_b, rate_a, rate_b,
    *         lift, z */
  def readoutTrace(spark: SparkSession,
                   path: String): DataFrame =
    readoutCard(trace(spark, path, "readoutTrace",
      Seq("n" -> "long", "conv" -> "long")), Seq(col("tag")))

  /** [[readoutTrace]]'s CONTINUOUS-metric twin — one Welch-t
    * [[meanReadout]] row per batch tag over the cumulative store
    * prefix, from the same per-arm (n, Σy, Σy²) moment rows
    * [[momentsStoreAppend]] maintains: the revenue/latency dashboard's
    * history next to the conversion one. Each row is bit-identical to
    * [[meanReadoutFromStoreAsOf]] at that tag (the [[readoutTrace]]
    * contract), and the whole trace is one window over ≤ #batches
    * store rows — unit history is never rescanned.
    *
    * @return per tag: tag, n_a, n_b, sy_a, sy_b, mean_a, mean_b,
    *         lift, t_welch, df_welch */
  def meanReadoutTrace(spark: SparkSession,
                       path: String): DataFrame =
    meanCard(trace(spark, path, "meanReadoutTrace",
      Seq("n" -> "long", "sy" -> "long", "syy" -> d38)), Seq(col("tag")))

  /** The one trace body: per batch tag, [[pivot]] the store's per-arm
    * columns `armed` (and sum the `pooled` ones) into deltas `d<name>`,
    * then one window over `tag` (≤ #batches model-sized rows; unit
    * history is never rescanned) folds them into the cumulative prefix.
    * Row t is the merged store cut at t, i.e. the as-of read. A loud
    * two-arm guard (the [[mergedArms]] maxVariant convention) rides
    * `n_a`: a store appended with k > 2 raises, naming `fn`. */
  private def trace(spark: SparkSession, path: String, fn: String,
                    armed: Seq[(String, String)],
                    pooled: Seq[(String, String)] = Nil): DataFrame = {
    Stores.requireStore(spark, path, "append experiment batches first")
    val perTag = sums(Stores.freshRead(spark, path), Seq(col("tag")),
      pivot(ab, armed.map { case (c, t) => cell(s"d$c", col(c), t) }: _*) ++
        pooled.map { case (c, t) => total(s"d$c", col(c), t) } :+
        max(col("variant")).as("max_var"))
    val w = Window.orderBy(col("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val guard = coalesce(assert_true(col("max_var") <= 1L,
      concat(lit(s"experiment store $path holds variant "),
        col("max_var").cast("string"),
        lit(s" — $fn reads two-arm stores only"))).cast("long"), lit(0L))
    val outs = (for (arm <- ab; (c, t) <- armed) yield (s"${c}_$arm", t)) ++
      pooled
    perTag.select(col("tag") +: outs.map { case (name, t) =>
      val cum = sum(col(s"d$name")).over(w).cast(t)
      (if (name == outs.head._1) cum + guard else cum).as(name)
    }: _*)
  }

  /** [[boundaryTrace]]'s CONTINUOUS-metric twin — the alpha-spending
    * decision boundary over [[meanReadoutTrace]]'s Welch-t rows: each
    * look k compares the displayed 6-dp |t| against its spending bound
    * (the z-table bounds, the standard large-n practice where t ≈ z;
    * at experiment-platform unit counts the t/z gap is far below the
    * boundary's own design tolerance — documented approximation, the
    * dyadic-table convention). Same crossed/stopped semantics, same
    * loud raise on unplanned looks.
    *
    * @return per tag: tag, look, n_a, n_b, t (6-dp), t_bound,
    *         crossed, stopped */
  def boundaryTraceMean(spark: SparkSession,
                        path: String,
                        bounds: Seq[Double] = ObrienFleming3): DataFrame =
    spendingBoundary("boundaryTraceMean", bounds,
      meanReadoutTrace(spark, path), "t_welch", "t", Seq("n_a", "n_b"))

  /** O'Brien–Fleming two-sided group-sequential z boundaries for
    * K = 3 equally-spaced looks at overall α = 0.05 (O'Brien &
    * Fleming 1979; c·√(K/k) with the tabulated c₃ = 2.004, e.g.
    * Jennison & Turnbull, "Group Sequential Methods", Table 2.3) —
    * PRECOMPUTED literal constants, the [[mdeCard]] z-literal
    * convention: no erf/quantile machinery at runtime, and both
    * engines compare against the identical double. */
  val ObrienFleming3: Seq[Double] = Seq(3.471, 2.454, 2.004)

  /** Sequential DECISION boundary over the monitoring trace — the
    * guard [[readoutTrace]] itself invites readers to skip: peeking at
    * every batch with the fixed-sample |z| ≥ 1.96 cut inflates the
    * false-positive rate several-fold (the classic unadjusted-peeking
    * error), so each look k gets an alpha-spending bound z_k instead
    * (O'Brien–Fleming-style: brutal early, ≈ nominal at the final
    * look). Emits one row per batch tag: the look index, the 6-dp z
    * the dashboard displays, its bound, whether THIS look crosses,
    * and the cumulative stop/continue verdict ("had we followed the
    * schedule, were we stopped by now"). `crossed` compares the ROUNDED
    * z (the displayed statistic) so the boolean is engine-exact by
    * the same rounding contract the trace itself rides; a look with
    * NULL z (empty arm, degenerate pooled rate) reads NULL crossed
    * and counts as continue. A trace longer than the spending schedule
    * raises loudly — extra unplanned looks are exactly the protocol
    * violation the boundary exists to prevent.
    *
    * @param bounds two-sided |z| bound per look, outermost first;
    *               defaults to [[ObrienFleming3]]
    * @return per tag: tag, look, n_a, conv_a, n_b, conv_b, z (6-dp),
    *         z_bound, crossed, stopped */
  def boundaryTrace(spark: SparkSession, path: String,
                    bounds: Seq[Double] = ObrienFleming3): DataFrame =
    spendingBoundary("boundaryTrace", bounds, readoutTrace(spark, path),
      "z", "z", Seq("n_a", "conv_a", "n_b", "conv_b"))

  /** The one spending-boundary body behind [[boundaryTrace]] and
    * [[boundaryTraceMean]]: look k is the k-th row of `tr` in tag
    * order; `stat` rounded to 6 dp is emitted as `out` next to its
    * bound `<out>_bound`, with `keep` passed through. Error messages
    * name the public `fn`; `tr` is by name so the bounds check runs
    * before the store is read. */
  private def spendingBoundary(fn: String, bounds: Seq[Double],
                               tr: => DataFrame, stat: String, out: String,
                               keep: Seq[String]): DataFrame = {
    require(bounds.nonEmpty && bounds.size <= 64,
      s"1..64 planned looks, got ${bounds.size}")
    val wOrd = Window.orderBy(col("tag"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // look indices ride lexicographic tag order, and the spending
    // schedule attaches statistical meaning to that order: 'b10'
    // sorting before 'b2' would hand looks the WRONG bounds silently.
    // Fixed-width (zero-padded) tags make lexicographic = append
    // order; mixed widths raise loudly.
    val wAll = wOrd.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val widthGuard = coalesce(assert_true(
      min(length(col("tag"))).over(wAll) ===
        max(length(col("tag"))).over(wAll),
      lit(s"$fn: batch tags must be fixed-width " +
        "(zero-padded) so lexicographic look order is append order"))
      .cast("long"), lit(0L))
    val looked = tr
      .withColumn("look", row_number().over(wOrd).cast("long") + widthGuard)
    val bound = bounds.zipWithIndex.tail
      .foldLeft(when(col("look") === 1L, lit(bounds.head))) {
        case (acc, (b, i)) => acc.when(col("look") === (i + 1).toLong, lit(b))
      }
      .otherwise(raise_error(concat(
        lit(s"$fn: look "), col("look").cast("string"),
        lit(s" exceeds the ${bounds.size}-look spending schedule")))
        .cast("double"))
    val shown = round(col(stat), 6)
    looked
      .withColumn(s"${out}_bound", bound)
      .withColumn("crossed",
        when(col(stat).isNull, lit(null).cast("boolean"))
          .otherwise(abs(shown) >= col(s"${out}_bound")))
      .withColumn("stopped",
        max(coalesce(col("crossed"), lit(false)).cast("int")).over(wCum)
          === 1)
      .select((Seq(col("tag"), col("look")) ++ keep.map(col) ++
        Seq(shown.as(out), col(s"${out}_bound"), col("crossed"),
          col("stopped"))): _*)
  }

  /** [[readoutFromStore]] cut at a batch tag — "what did the dashboard
    * say as of batch N": the decision-audit read (append-only rows
    * make the cut exact; prunes on the tag column's min/max). */
  def readoutFromStoreAsOf(spark: SparkSession,
                           path: String, asOfTag: String): DataFrame =
    readoutOverArms(mergedArms(spark, path, Some(asOfTag)))

  private def readoutOverArms(merged: DataFrame): DataFrame =
    readoutCard(sums(merged, Nil, pivot(ab, stored("n"), stored("conv"))), Nil)

  /** [[cupedReadout]]'s card over the merged store — the maintained
    * variance-reduced lift (theta re-estimated from the cumulative
    * pooled moments at every read, exactly as the one-shot does). */
  def cupedFromStore(spark: SparkSession,
                     path: String): DataFrame =
    cupedOverArms(mergedArms(spark, path))

  /** [[cupedFromStore]] cut at a batch tag — the CUPED card's
    * decision-audit read. */
  def cupedFromStoreAsOf(spark: SparkSession,
                         path: String, asOfTag: String): DataFrame =
    cupedOverArms(mergedArms(spark, path, Some(asOfTag)))

  private def cupedOverArms(merged: DataFrame): DataFrame =
    cupedCard(sums(merged, Nil, pivot(ab, stored("n"), stored("sy"), stored("sx")) ++
      Seq("sxx", "sxy", "syy").map(c => total(c, col(c), d38))))

  /** DuckDB mirror over `src(<groupCols...>, unit, c)` with c already
    * 0/1 — CTEs ending in `ab(<groupCols...>, n_a, conv_a, n_b, conv_b,
    * rate_a, rate_b, lift, z)`. */
  def oracleCtes(src: String, groupCols: Seq[String], salt: String): String = {
    val g = groupCols.mkString(", ")
    val gq = if (groupCols.isEmpty) "" else s"$g, "
    s"""ab_u AS (SELECT ${gq}unit, max(c) AS converted,
       |    CAST('0x' || substr(md5(CAST(unit AS VARCHAR) || '$salt'), 1, 7)
       |      AS BIGINT) % 2 AS variant
       |  FROM $src GROUP BY ALL),
       |ab_c AS (SELECT $gq
       |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT)
       |      AS conv_a,
       |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |    CAST(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT)
       |      AS conv_b
       |  FROM ab_u GROUP BY ALL),
       |ab AS (SELECT $gq n_a, conv_a, n_b, conv_b,
       |    CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
       |      ELSE CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) END AS rate_a,
       |    CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
       |      ELSE CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) END AS rate_b,
       |    CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
       |      ELSE CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
       |      - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) END AS lift,
       |    CASE WHEN n_a = 0 OR n_b = 0
       |        OR CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) = 0.0
       |        OR CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) = 1.0
       |      THEN NULL
       |      ELSE (CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
       |          - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))
       |        / sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
       |          * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
       |          * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
       |      END AS z
       |  FROM ab_c)""".stripMargin
  }
}
