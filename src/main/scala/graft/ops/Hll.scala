package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** HyperLogLog distinct-count sketch (Flajolet, Fusy, Gandouet, Meunier
  * 2007) as a MERGEABLE REGISTER TABLE — the cardinality analog of the
  * engine's additive-moments stores ([[Pca]]) and max-merge lifecycles.
  *
  * Why a hand-rolled HLL when Spark ships `approx_count_distinct` and
  * `hll_sketch_agg`: those return an opaque binary sketch whose estimate
  * is not replayable by another engine, so nothing downstream can be
  * hash-certified. This formulation keeps the sketch RELATIONAL — one
  * row per (group, register) — and keeps every arithmetic step exactly
  * reproducible in ANSI SQL:
  *
  *  - base hash = first 15 hex chars of md5(value) as a 60-bit long
  *    (the [[graft.functions.expr.MinHashSignature]] base-hash idiom,
  *    widened to 60 bits);
  *  - register index = low log2(m) bits; rank field = remaining W bits;
  *  - rho = W+1 − bitlen(rank) (bitlen via `length(ltrim(bin(x),'0'))`,
  *    integer-exact in any engine — no log2 float boundary risk);
  *  - the harmonic denominator is computed as the EXACT INTEGER
  *    Z = Σ_j 2^(W+1−rho_j)  (each term a long shift; Σ ≤ m·2^(W+1)
  *    < 2^63 for m ≤ 4096), so the only floating-point steps are the
  *    final alpha·m²·2^(W+1) / Z — IEEE-identical across engines.
  *
  * The register table is the merge algebra: union + per-register MAX is
  * associative, commutative, and IDEMPOTENT, so batch appends are
  * replay-convergent by construction (a double-posted batch changes
  * nothing) — the strongest crash story of any store in the engine; the
  * `_appended_*` markers ([[Stores.appendCommit]]) are kept anyway so a
  * redelivered batch also skips its scan work.
  *
  * Scale: the sketch build is one hash aggregation whose output is
  * ≤ m rows per group regardless of input size — the 100 TB shape for
  * "distinct users/tokens per partition per day" dashboards where exact
  * count-distinct would shuffle every distinct value. Estimate error is
  * the standard 1.04/√m (≈6.5% at m = 256). The small-range regime
  * (n ≲ 2.5·m) of the published algorithm switches to linear counting,
  * which needs `ln` — transcendental, not cross-engine exact — so this
  * implementation keeps the raw estimator everywhere and documents the
  * small-range bias instead (callers counting ≲ 3m distincts should use
  * exact count-distinct; a sketch is pointless there anyway).
  */
object Hll {

  /** Bits in the md5-derived base hash (15 hex chars). */
  private val BaseBits = 60

  private def log2(m: Int): Int = {
    require(m >= 16 && (m & (m - 1)) == 0 && m <= 4096,
      s"m must be a power of two in [16, 4096], got $m")
    java.lang.Integer.numberOfTrailingZeros(m)
  }

  /** Width of the rank field for m registers. */
  def rankBits(m: Int): Int = BaseBits - log2(m)

  /** Standard bias-correction constant (Flajolet et al. 2007, fig. 3). */
  def alpha(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1.0 + 1.079 / m.toDouble)
  }

  /** Register table for `valueExpr` grouped by `groupCols`: one row per
    * (group, bucket) with the max rho observed — ≤ m rows per group.
    * `valueExpr` is a SQL expression string of any type, hashed as
    * `md5(cast(valueExpr as string))`: a BIGINT id lands in the same
    * register as the same id cast to string, and on a string column the
    * cast is the identity, so the hash equals [[oracleCtes]]' `md5(v)`. */
  def registers(df: DataFrame, groupCols: Seq[String], valueExpr: String,
                m: Int): DataFrame = {
    val w = rankBits(m)
    val base = s"cast(conv(substring(md5(cast($valueExpr as string)), 1, 15), " +
      "16, 10) as bigint)"
    val rank = s"shiftright($base, ${log2(m)})"
    df.select(
        (groupCols.map(col) :+
          expr(s"$base & ${m - 1}").cast("long").as("bucket") :+
          expr(s"case when $rank = 0 then ${w + 1} " +
            s"else ${w + 1} - length(ltrim('0', bin($rank))) end")
            .cast("long").as("rho")): _*)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max(col("rho")).as("rho"))
  }

  /** Cardinality estimate per group from a register table (merged or
    * not — callers merge by max first if the table carries batch tags).
    * Output: group cols + `buckets_hit` (bigint) + `est` (double, the
    * raw HLL estimator — see the class doc for the small-range note).
    */
  def estimate(regs: DataFrame, groupCols: Seq[String], m: Int): DataFrame = {
    val w = rankBits(m)
    val merged = regs
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(max(col("rho")).as("rho"))
    val zTop = s"cast(shiftleft(cast(1 as bigint), ${w + 1}) as bigint)"
    merged
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).cast("long").as("buckets_hit"),
        sum(expr(s"shiftleft(cast(1 as bigint), ${w + 1} - rho)"))
          .cast("long").as("z_present"))
      .select(
        (groupCols.map(col) :+ col("buckets_hit") :+
          (lit(alpha(m) * m.toDouble * m.toDouble) *
            expr(zTop).cast("double") /
            (col("z_present") + (lit(m.toLong) - col("buckets_hit")) *
              expr(zTop)).cast("double")).as("est")): _*)
  }

  /** DuckDB mirror of [[registers]]+[[estimate]] over a relation
    * `src(<groupCols...>, v)` — emits a chained-CTE fragment ending in
    * relation `hll_est(<groupCols...>, buckets_hit, est)`. Kept beside
    * the Spark code so the two renderings of the arithmetic can never
    * drift apart silently. */
  def oracleCtes(src: String, groupCols: Seq[String], m: Int,
                 prefix: String = "hll"): String = {
    val w = rankBits(m)
    val p = log2(m)
    val g = groupCols.mkString(", ")
    val gq = if (groupCols.isEmpty) "" else s"$g, "
    val zTop = s"(CAST(1 AS BIGINT) << ${w + 1})"
    s"""${prefix}_h AS (SELECT ${gq}CAST('0x' || substr(md5(v), 1, 15) AS BIGINT) AS base
       |  FROM $src),
       |${prefix}_br AS (SELECT ${gq}base & ${m - 1} AS bucket,
       |    CASE WHEN (base >> $p) = 0 THEN ${w + 1}
       |      ELSE ${w + 1} - length(ltrim(bin(base >> $p), '0')) END AS rho
       |  FROM ${prefix}_h),
       |${prefix}_reg AS (SELECT ${gq}bucket, max(rho) AS rho
       |  FROM ${prefix}_br GROUP BY ALL),
       |${prefix}_z AS (SELECT ${gq}CAST(count(*) AS BIGINT) AS buckets_hit,
       |    CAST(sum(CAST(1 AS BIGINT) << (${w + 1} - rho)) AS BIGINT) AS z_present
       |  FROM ${prefix}_reg GROUP BY ALL),
       |${prefix}_est AS (SELECT ${gq}buckets_hit,
       |    ${alphaSql(m)} * CAST(${m.toLong * m} AS DOUBLE) * CAST($zTop AS DOUBLE)
       |      / CAST(z_present + (${m} - buckets_hit) * $zTop AS DOUBLE) AS est
       |  FROM ${prefix}_z)""".stripMargin
  }

  /** `alpha(m)` as a SQL expression whose IEEE steps match the Scala
    * computation (literal parse + one division + one addition + one
    * division, all correctly rounded — bit-identical). */
  private def alphaSql(m: Int): String = m match {
    case 16 => "0.673"; case 32 => "0.697"; case 64 => "0.709"
    case _  => s"(0.7213 / (1.0 + 1.079 / ${m.toDouble}))"
  }

  /** Pairwise set-overlap estimates between groups by HLL
    * inclusion-exclusion: registers are a SET SKETCH, so the per-bucket
    * MAX of two groups' registers IS the sketch of their union, and
    * |A∩B| ≈ est(A) + est(B) − est(A∪B) with NO extra pass over the
    * data (the standard HLL set-algebra move — Flajolet et al. 2007 §5;
    * the same identity DataSketches' Theta family exposes as a
    * first-class operation). The Jaccard estimate rides along as
    * intersect/union — the corpus-curation question ("how redundant are
    * these two crawls?") answered from sketches alone.
    *
    * Scale: everything here runs on the REGISTER table — ≤ m rows per
    * group regardless of corpus size — so the pair matrix costs
    * O(|pairs| · m), never a second corpus scan. The pair list is the
    * group cardinality squared; callers with thousands of groups should
    * pre-filter to the pairs they care about.
    *
    * Intersection error compounds (σ of each term adds), and small true
    * intersections can estimate NEGATIVE — that is the honest sketch
    * answer and is emitted as-is; consumers threshold, they don't trust
    * the sign at the noise floor.
    *
    * @param regs register table from [[registers]] — (groupCol, bucket, rho)
    * @return one row per unordered group pair (src_a < src_b):
    *         est_a, est_b, est_union, est_intersect, jaccard_est
    */
  def pairOverlap(regs: DataFrame, groupCol: String, m: Int): DataFrame = {
    val single = estimate(regs, Seq(groupCol), m)
    val groups = regs.select(col(groupCol)).distinct()
    val pairs = groups.select(col(groupCol).as("src_a"))
      .join(groups.select(col(groupCol).as("src_b")),
        col("src_a") < col("src_b"))
    // two membership rows per pair -> equi-join against the registers
    // (an OR-join would plan as a nested loop; this stays hash)
    val members = pairs.select(col("src_a"), col("src_b"),
      explode(array(col("src_a"), col("src_b"))).as(groupCol))
    val unionRegs = members.join(regs, groupCol)
      .groupBy(col("src_a"), col("src_b"), col("bucket"))
      .agg(max(col("rho")).as("rho"))
    val estU = estimate(unionRegs, Seq("src_a", "src_b"), m)
      .withColumnRenamed("est", "est_union").drop("buckets_hit")
    estU
      .join(single.select(col(groupCol).as("src_a"), col("est").as("est_a")),
        Seq("src_a"))
      .join(single.select(col(groupCol).as("src_b"), col("est").as("est_b")),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("est_a"), col("est_b"),
        col("est_union"),
        (col("est_a") + col("est_b") - col("est_union")).as("est_intersect"),
        ((col("est_a") + col("est_b") - col("est_union")) / col("est_union"))
          .as("jaccard_est"))
  }

  /** DuckDB mirror of [[pairOverlap]] composed on top of [[oracleCtes]]'
    * `hll_reg`/`hll_est` relations — emits a fragment ending in
    * `hll_pair(src_a, src_b, est_a, est_b, est_union, est_intersect,
    * jaccard_est)`. The estimator rendering repeats [[oracleCtes]]'
    * exactly; the inclusion-exclusion arithmetic is the same fixed
    * order as the Spark column expressions. */
  def overlapOracleCtes(groupCol: String, m: Int): String = {
    val w = rankBits(m)
    val zTop = s"(CAST(1 AS BIGINT) << ${w + 1})"
    s"""hll_pr AS (SELECT a.$groupCol AS src_a, b.$groupCol AS src_b
       |  FROM (SELECT DISTINCT $groupCol FROM hll_reg) a
       |  JOIN (SELECT DISTINCT $groupCol FROM hll_reg) b
       |    ON a.$groupCol < b.$groupCol),
       |hll_mem AS (SELECT src_a, src_b, src_a AS $groupCol FROM hll_pr
       |  UNION ALL SELECT src_a, src_b, src_b AS $groupCol FROM hll_pr),
       |hll_ur AS (SELECT m.src_a, m.src_b, r.bucket, max(r.rho) AS rho
       |  FROM hll_mem m JOIN hll_reg r USING ($groupCol)
       |  GROUP BY 1, 2, 3),
       |hll_uz AS (SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS buckets_hit,
       |    CAST(sum(CAST(1 AS BIGINT) << (${w + 1} - rho)) AS BIGINT) AS z_present
       |  FROM hll_ur GROUP BY 1, 2),
       |hll_ue AS (SELECT src_a, src_b,
       |    ${alphaSql(m)} * CAST(${m.toLong * m} AS DOUBLE) * CAST($zTop AS DOUBLE)
       |      / CAST(z_present + (${m} - buckets_hit) * $zTop AS DOUBLE) AS est_union
       |  FROM hll_uz),
       |hll_pair AS (SELECT u.src_a, u.src_b, ea.est AS est_a, eb.est AS est_b,
       |    u.est_union, ea.est + eb.est - u.est_union AS est_intersect,
       |    (ea.est + eb.est - u.est_union) / u.est_union AS jaccard_est
       |  FROM hll_ue u
       |  JOIN hll_est ea ON ea.$groupCol = u.src_a
       |  JOIN hll_est eb ON eb.$groupCol = u.src_b)""".stripMargin
  }

  /** Append one batch's registers into a parquet store at `path` —
    * rows (group..., bucket, rho, tag). Exactly-once per `batchTag` via
    * [[Stores.appendCommit]]; on top of that, the max-merge read makes
    * even a hypothetically double-posted batch harmless (idempotent
    * algebra). Creates the store on first call. */
  def registerStoreAppend(df: DataFrame, path: String, batchTag: String,
                          groupCols: Seq[String], valueExpr: String,
                          m: Int): Unit = {
    val spark = df.sparkSession
    val regs = registers(df, groupCols, valueExpr, m)
      .withColumn("tag", lit(batchTag))
    if (!Stores.exists(spark, path, "_SUCCESS"))
      regs.limit(0).write.mode("overwrite").parquet(path)
    Stores.appendCommit(spark, path, batchTag) { staging =>
      regs.write.mode("overwrite").parquet(staging)
    }
  }

  /** Estimate from a register store (any number of appended batches):
    * max-merge across tags, then [[estimate]]. */
  def estimateFromStore(spark: SparkSession, path: String,
                        groupCols: Seq[String], m: Int): DataFrame = {
    Stores.requireStore(spark, path, "append registers first")
    estimate(spark.read.parquet(path), groupCols, m)
  }

  /** [[estimateFromStore]] cut at a batch tag (`tag <= asOfTag`) —
    * cardinality time-travel: the max-merge of an append-only prefix
    * is EXACTLY the estimate any reader computed after batch N (the
    * audit read the decay/bootstrap/blocklist stores already answer).
    * Prunes on the tag column's parquet min/max. */
  def estimateFromStoreAsOf(spark: SparkSession, path: String,
                            groupCols: Seq[String], m: Int,
                            asOfTag: String): DataFrame = {
    Stores.requireStore(spark, path, "append registers first")
    estimate(Stores.freshRead(spark, path).filter(col("tag") <= asOfTag),
      groupCols, m)
  }
}
