package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Tables, Deltas}
import graft.functions.Text
import graft.ops.{Dedup, Ann, Multimodal, Dsir}

/** The oracle-checked query surface: every operator family from
  * SURVEY.md §2 plus the training-data-pipeline ops, each as a
  * (Spark implementation, equivalent DuckDB SQL) pair.
  *
  * Parity rules that keep the hash-compare honest:
  *  - identical output column names and orders, aliased on both sides;
  *  - integer-typed outputs are BIGINT on both sides (Spark `size`/
  *    `row_number` are INT → cast; DuckDB `len`/`list_sum` are
  *    BIGINT/HUGEINT → cast);
  *  - double outputs come from decimal-exact aggregation cast to double,
  *    or from identical left-to-right folds (never reordered float sums);
  *  - timestamps are exported as epoch microseconds BIGINT (the
  *    reference's native precision);
  *  - every query ends in a deterministic ORDER BY on a unique key.
  */
object Queries {

  /** Each query: name -> (spark impl, duckdb oracle sql). */
  type Q = (String, ((SparkSession, String) => DataFrame, String))

  private def dec(c: Column): Column = c.cast("decimal(18,2)")
  private val one = lit(1).cast("decimal(18,2)")

  // ---------------------------------------------------------------- events
  // DuckDB-side normalized events CTE mirroring Tables.events.
  private val EV =
    """ev AS (SELECT event_id, user_id, event_type, value,
      |  epoch_us(ts) AS ts_us,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events)""".stripMargin

  /** Flagship (reference machine-dashboard/logic.rs:6-30): latest status
    * per entity = per-key argmax, G7/M1. One hash aggregation with
    * partial map-side argmax (O(1) state/key) — deliberately not a
    * window: at 100 TB a window would sort every partition; max_by
    * keeps only one row per key alive. */
  val qDashboard: Q = "q_dashboard" -> (
    (s: SparkSession, d: String) => {
      val ev = Tables.events(s, d)
      ev.groupBy(col("user_id"))
        .agg(max_by(
          struct(col("event_type"), col("value"), col("ts_us")),
          struct(col("ts_us"), col("event_id"))).as("top"))
        .select(col("user_id"),
          col("top.event_type").as("status"),
          col("top.value").as("value"),
          col("top.ts_us").as("since_us"))
        .orderBy(col("user_id"))
    },
    s"""WITH $EV,
       |r AS (SELECT user_id, event_type, value, ts_us,
       |  row_number() OVER (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) rn
       |  FROM ev)
       |SELECT user_id, event_type AS status, value, ts_us AS since_us
       |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin)

  /** Interval matching (reference machine-usage/logic.rs:15-57): pair each
    * 'view' (started) with the next 'click' (stopped) on the same
    * (user, k) in event order — LEAD over the keyed, ordered stream.
    * LEAD pairing is EQUIVALENT to the reference's sequential matcher on
    * every filtered sequence, not just alternating ones: the matcher
    * pairs (v, c) iff c immediately follows v in the view/click
    * subsequence — an intervening view overwrites the open start
    * (logic.rs:34-43) and an intervening click consumes it
    * (logic.rs:45-49), which is exactly "immediately follows". The typed
    * sequential operator (reduceSorted) pins the same semantics in
    * `SessionizeSpec`. */
  val qUsage: Q = "q_usage" -> (
    (s: SparkSession, d: String) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("view", "click"))
      val w = Window.partitionBy(col("user_id"), col("k"))
        .orderBy(col("event_id"))
      ev.withColumn("nxt_type", lead(col("event_type"), 1).over(w))
        .withColumn("nxt_ts", lead(col("ts_us"), 1).over(w))
        .filter(col("event_type") === "view" && col("nxt_type") === "click")
        .select(col("user_id"), col("k").as("ord"),
          col("ts_us").as("started_us"),
          (col("nxt_ts") - col("ts_us")).as("duration_us"))
        .orderBy(col("user_id"), col("started_us"))
    },
    s"""WITH $EV,
       |f AS (SELECT * FROM ev WHERE event_type IN ('view', 'click')),
       |w AS (SELECT user_id, k, ts_us, event_type,
       |  lead(event_type) OVER (PARTITION BY user_id, k ORDER BY event_id) nxt_type,
       |  lead(ts_us)      OVER (PARTITION BY user_id, k ORDER BY event_id) nxt_ts
       |  FROM f)
       |SELECT user_id, k AS ord, ts_us AS started_us, nxt_ts - ts_us AS duration_us
       |FROM w WHERE event_type = 'view' AND nxt_type = 'click'
       |ORDER BY user_id, started_us""".stripMargin)

  /** Grouped running-sum summary (reference finished-goods-1/logic.rs:13-53):
    * groupBy + decimal-exact sum + count. */
  val qProduction: Q = "q_production" -> (
    (s: SparkSession, d: String) => {
      Tables.events(s, d)
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(dec(col("value"))).cast("double").as("total_value"),
          count(lit(1)).as("n_events"))
        .orderBy(col("event_type"), col("user_id"))
    },
    s"""WITH $EV
       |SELECT event_type, user_id,
       |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       |  count(*) AS n_events
       |FROM ev GROUP BY event_type, user_id
       |ORDER BY event_type, user_id""".stripMargin)

  // ------------------------------------------------------------ relational

  /** TPC-H Q1 shape: wide aggregation, decimal-exact. */
  val q1Agg: Q = "q1_agg" -> (
    (s: SparkSession, d: String) => {
      val px = dec(col("l_extendedprice")); val dc = dec(col("l_discount"))
      val tx = dec(col("l_tax"))
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(px).cast("double").as("sum_base_price"),
          sum(px * (one - dc)).cast("double").as("sum_disc_price"),
          sum(px * (one - dc) * (one + tx)).cast("double").as("sum_charge"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
      |  count(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin)

  /** TPC-H Q3 shape: selective dimension filter → join → aggregate.
    * customer is broadcast (dimension ≪ fact); lineitem never shuffles
    * before the aggregate's own exchange. */
  val q3Join: Q = "q3_join" -> (
    (s: SparkSession, d: String) => {
      val cust = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") < to_timestamp(lit("1997-01-01")))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      li.join(broadcast(ord.join(broadcast(cust),
            col("o_custkey") === col("c_custkey"))),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))
          .cast("double").as("revenue"))
        .select(col("o_orderkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("o_orderdate_us"),
          col("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey")).limit(20)
    },
    """SELECT o_orderkey, epoch_us(o_orderdate) AS o_orderdate_us,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM customer
      |JOIN orders   ON o_custkey = c_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY o_orderkey, o_orderdate
      |ORDER BY revenue DESC, o_orderkey LIMIT 20""".stripMargin)

  /** TPC-H Q5 shape: star join through 4 dimensions, all broadcast. */
  val q5Join: Q = "q5_join_multi" -> (
    (s: SparkSession, d: String) => {
      val dims = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("n_name"), col("r_name"))
      val ord = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      li.join(ord.join(broadcast(dims), col("o_custkey") === col("c_custkey"))
            .hint("shuffle_hash"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))
          .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("r_name"), col("n_name"))
    },
    """SELECT r_name, n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM region
      |JOIN nation   ON n_regionkey = r_regionkey
      |JOIN customer ON c_nationkey = n_nationkey
      |JOIN orders   ON o_custkey = c_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin)

  /** A1 distinct. */
  val qDistinct: Q = "q_distinct" -> (
    (s: SparkSession, d: String) =>
      Tables.events(s, d).select(col("event_type"), col("user_id"))
        .distinct().orderBy(col("event_type"), col("user_id")),
    """SELECT DISTINCT event_type, user_id FROM events
      |ORDER BY event_type, user_id""".stripMargin)

  /** U3+U1: EXCEPT via negate∘concat∘consolidate (delta algebra on the
    * DataFrame mult encoding; reference flow.rs:364-366). */
  val qExcept: Q = "q_except" -> (
    (s: SparkSession, d: String) => {
      val ev = Tables.events(s, d)
      val a = ev.filter(col("event_type") === "purchase").select(col("user_id")).distinct()
      val b = ev.filter(col("event_type") === "purchase" && col("value") > 90)
        .select(col("user_id")).distinct()
      Deltas.consolidate(Deltas.concat(a, Deltas.negate(b)))
        .filter(col(Deltas.MULT) > 0).select(col("user_id"))
        .orderBy(col("user_id"))
    },
    """SELECT user_id FROM (
      |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
      |  EXCEPT
      |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' AND value > 90)
      |ORDER BY user_id""".stripMargin)

  /** INTERSECT (composable from the delta algebra). ONE scan of events
    * with conditional flags per user — the native `.intersect` plans two
    * scans + two distinct-aggregates of the same table; this shape is one
    * scan, one shuffle (map-side partial agg on the flags). */
  val qIntersect: Q = "q_intersect" -> (
    (s: SparkSession, d: String) => {
      val ev = Tables.events(s, d)
      ev.filter(col("event_type").isin("signup", "click"))
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "signup", 1).otherwise(0)).as("has_s"),
          max(when(col("event_type") === "click", 1).otherwise(0)).as("has_c"))
        .filter(col("has_s") === 1 && col("has_c") === 1)
        .select(col("user_id"))
        .orderBy(col("user_id"))
    },
    """SELECT user_id FROM (
      |  SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
      |  INTERSECT
      |  SELECT DISTINCT user_id FROM events WHERE event_type = 'click')
      |ORDER BY user_id""".stripMargin)

  /** EXCEPT ALL — bag semantics with multiplicities (reference sink bag
    * contract, sqlite.rs:296-309). */
  val qExceptAll: Q = "q_exceptall" -> (
    (s: SparkSession, d: String) => {
      val li = Tables.lineitem(s, d)
      li.filter(col("l_quantity") <= 25).select(col("l_returnflag"))
        .exceptAll(li.filter(col("l_quantity") <= 20).select(col("l_returnflag")))
        .orderBy(col("l_returnflag"))
    },
    """SELECT l_returnflag FROM (
      |  SELECT l_returnflag FROM lineitem WHERE l_quantity <= 25
      |  EXCEPT ALL
      |  SELECT l_returnflag FROM lineitem WHERE l_quantity <= 20)
      |ORDER BY l_returnflag""".stripMargin)

  /** A3 per-element count = delta consolidation (reference flow.rs:460-462,
    * coll.rs:89-101). */
  val qCount: Q = "q_count" -> (
    (s: SparkSession, d: String) =>
      Deltas.count(Tables.events(s, d).select(col("event_type"), col("user_id")))
        .orderBy(col("event_type"), col("user_id")),
    """SELECT event_type, user_id, count(*) AS mult FROM events
      |GROUP BY event_type, user_id
      |ORDER BY event_type, user_id""".stripMargin)

  /** A2/G8 threshold — multiplicity transform, capped at 2 (reference
    * flow.rs:453-457, 531-533). */
  val qThreshold: Q = "q_threshold" -> (
    (s: SparkSession, d: String) =>
      Deltas.threshold(
        Tables.events(s, d).select(col("event_type"), col("user_id")),
        m => least(m, lit(2L)))
        .orderBy(col("event_type"), col("user_id")),
    """SELECT event_type, user_id, LEAST(count(*), 2) AS mult FROM events
      |GROUP BY event_type, user_id
      |ORDER BY event_type, user_id""".stripMargin)

  /** Global top-k (ORDER BY + LIMIT → TakeOrderedAndProject: per-partition
    * heaps, no global sort). */
  val qTopK: Q = "q_topk" -> (
    (s: SparkSession, d: String) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(15),
    """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
      |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 15""".stripMargin)

  /** Ranking-window running total per key (decimal-exact). */
  val qWindowRunning: Q = "q_window_running" -> (
    (s: SparkSession, d: String) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          sum(dec(col("o_totalprice"))).over(w).cast("double").as("run_total"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    """SELECT o_custkey, o_orderkey,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DOUBLE) AS run_total
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)

  /** G7 argmax per key via max_by aggregate (not a window — O(1) state). */
  val qMaxBy: Q = "q_maxby_part" -> (
    (s: SparkSession, d: String) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_partkey"))
        .agg(max_by(
          struct(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
          struct(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))).as("m"))
        .select(col("l_partkey"), col("m.l_orderkey").as("l_orderkey"),
          col("m.l_linenumber").as("l_linenumber"),
          col("m.l_extendedprice").as("l_extendedprice"))
        .orderBy(col("l_partkey")),
    """SELECT l_partkey, l_orderkey, l_linenumber, l_extendedprice FROM (
      |  SELECT l_partkey, l_orderkey, l_linenumber, l_extendedprice,
      |    row_number() OVER (PARTITION BY l_partkey
      |      ORDER BY l_extendedprice DESC, l_orderkey DESC, l_linenumber DESC) rn
      |  FROM lineitem)
      |WHERE rn = 1 ORDER BY l_partkey""".stripMargin)

  /** ROLLUP subtotals (beyond the reference surface — Spark/DuckDB
    * native). NULL subtotal markers coalesced to a label so both engines
    * sort/compare identically. */
  val qRollup: Q = "q_rollup" -> (
    (s: SparkSession, d: String) => {
      val dims = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      Tables.customer(s, d)
        .join(broadcast(dims), col("c_nationkey") === col("n_nationkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          sum(dec(col("c_acctbal"))).cast("double").as("sum_bal"))
        .select(coalesce(col("r_name"), lit("(all)")).as("r_name"),
          coalesce(col("n_name"), lit("(all)")).as("n_name"),
          col("n_cust"), col("sum_bal"))
        .orderBy(col("r_name"), col("n_name"))
    },
    """SELECT COALESCE(r_name, '(all)') AS r_name,
      |  COALESCE(n_name, '(all)') AS n_name,
      |  count(*) AS n_cust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY r_name, n_name""".stripMargin)

  /** Distinct aggregation (COUNT(DISTINCT ...) — two-phase exact). */
  val qCountDistinct: Q = "q_count_distinct" -> (
    (s: SparkSession, d: String) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          countDistinct(col("k")).as("n_orders"))
        .orderBy(col("event_type")),
    s"""WITH $EV
       |SELECT event_type, count(DISTINCT user_id) AS n_users,
       |  count(DISTINCT k) AS n_orders
       |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** G5/G6 min/max per key. */
  val qMinMax: Q = "q_minmax" -> (
    (s: SparkSession, d: String) =>
      Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_custkey")),
    """SELECT o_custkey, min(o_totalprice) AS min_price,
      |  max(o_totalprice) AS max_price, count(*) AS n_orders
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)

  // --------------------------------------------------- training-data ops

  private val NORM = raw"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
  private def TOKS = s"string_split($NORM, ' ')"

  /** Exact dedup (hash-groupBy on content fingerprint). */
  val qDedupExact: Q = "q_dedup_exact" -> (
    (s: SparkSession, d: String) =>
      Dedup.exact(Tables.documents(s, d)).orderBy(col("fp")),
    s"""SELECT md5($NORM) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
       |FROM documents GROUP BY fp ORDER BY fp""".stripMargin)

  /** Content fingerprint per doc. */
  val qFingerprint: Q = "q_fingerprint" -> (
    (s: SparkSession, d: String) =>
      Tables.documents(s, d)
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id")),
    s"""SELECT doc_id, md5($NORM) AS fp FROM documents ORDER BY doc_id""".stripMargin)

  /** Token counting. */
  val qTokenCount: Q = "q_token_count" -> (
    (s: SparkSession, d: String) =>
      Tables.documents(s, d)
        .select(col("doc_id"), Text.tokenCount(col("text")).cast("long").as("n_tokens"))
        .orderBy(col("doc_id")),
    s"""SELECT doc_id, len($TOKS) AS n_tokens FROM documents ORDER BY doc_id""".stripMargin)

  /** BPE-style pre-token counting (the merge units a BPE tokenizer sees). */
  val qTokenBpe: Q = "q_token_bpe" -> (
    (s: SparkSession, d: String) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          Text.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"))
        .orderBy(col("doc_id")),
    raw"""SELECT doc_id, len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin)

  /** Language ID heuristic (stopword lexicons, deterministic CASE chain). */
  val qLangId: Q = "q_lang_id" -> (
    (s: SparkSession, d: String) =>
      Tables.documents(s, d)
        .select(col("doc_id"), Text.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id")),
    {
      def hits(lex: Seq[String]) = {
        val lst = lex.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter($TOKS, t -> list_contains($lst, t)))"
      }
      val de = hits(Seq("der", "die", "das", "und", "ein", "ist", "zu"))
      val en = hits(Seq("the", "a", "of", "and", "to", "in", "is"))
      val es = hits(Seq("el", "la", "de", "y", "un", "una", "es"))
      val fr = hits(Seq("le", "la", "de", "et", "un", "une", "est"))
      s"""WITH h AS (SELECT doc_id, $de AS h_de, $en AS h_en, $es AS h_es, $fr AS h_fr
         |  FROM documents)
         |SELECT doc_id, CASE
         |  WHEN h_de > 0 AND h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
         |  WHEN h_en > 0 AND h_en >= h_es AND h_en >= h_fr THEN 'en'
         |  WHEN h_es > 0 AND h_es >= h_fr THEN 'es'
         |  WHEN h_fr > 0 THEN 'fr'
         |  ELSE 'und' END AS lang_pred
         |FROM h ORDER BY doc_id""".stripMargin
    })

  /** Quality scoring (length/punct/alpha/repetition features). */
  val qQuality: Q = "q_quality" -> (
    (s: SparkSession, d: String) =>
      Tables.documents(s, d)
        .select(col("doc_id"), Text.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id")),
    s"""SELECT doc_id, round(
       |  LEAST(len($TOKS) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE)
       |  + (CAST(1.0 AS DOUBLE) - length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / GREATEST(length(text), 1)) * CAST(0.2 AS DOUBLE)
       |  + length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / GREATEST(length(text), 1) * CAST(0.2 AS DOUBLE)
       |  + len(list_distinct($TOKS)) / GREATEST(len($TOKS), 1) * CAST(0.2 AS DOUBLE), 6) AS quality
       |FROM documents ORDER BY doc_id""".stripMargin)

  /** Per-source quality cap: at most 40 docs per source, BEST first
    * (quality desc, doc_id asc) — the C4/RefinedWeb per-domain
    * truncation. Two-phase WindowGroupLimit: map tasks prune to local
    * top-40 before the per-source exchange. */
  val qDomainCap: Q = "q_domain_cap" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Sampling.capPerGroup(
          Tables.documents(s, d)
            .select(col("doc_id"), col("source"),
              Text.qualityScore(col("text")).as("quality")),
          groupCol = "source", scoreCol = "quality", k = 40,
          keyCol = "doc_id")
        .orderBy(col("source"), col("quality").desc, col("doc_id")),
    s"""WITH sc AS (SELECT doc_id, source, round(
       |    LEAST(len($TOKS) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE)
       |    + (CAST(1.0 AS DOUBLE) - length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / GREATEST(length(text), 1)) * CAST(0.2 AS DOUBLE)
       |    + length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / GREATEST(length(text), 1) * CAST(0.2 AS DOUBLE)
       |    + len(list_distinct($TOKS)) / GREATEST(len($TOKS), 1) * CAST(0.2 AS DOUBLE), 6) AS quality
       |  FROM documents),
       |rk AS (SELECT doc_id, source, quality, row_number() OVER (
       |    PARTITION BY source ORDER BY quality DESC, doc_id ASC) AS rn FROM sc)
       |SELECT doc_id, source, quality FROM rk WHERE rn <= 40
       |ORDER BY source, quality DESC, doc_id""".stripMargin)

  // MinHash-LSH near-dup pairs. k = bands * rowsPerBand = 32.
  private val MH_BANDS = 8; private val MH_ROWS = 4; private val MH_TAU = 0.5

  /** DuckDB mirror of Dedup.minhashLsh as chained CTEs over a source
    * relation `src(id, text)` — reused by the composite pipeline oracle.
    * Emits relation `mh_pairs(id_a, id_b, jaccard_est)`. */
  private def minhashPairsCtes(src: String): String = {
    val k = MH_BANDS * MH_ROWS
    val sigExprs = graft.functions.Text.minhashCoeffs(k).map { case (a, b) =>
      s"list_min(list_transform(bases, h -> (h * $a + $b) % ${graft.functions.Text.MH_P}))"
    }.mkString("[", ",\n      ", "]")
    s"""mh_t AS (SELECT id, string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks FROM $src),
       |mh_sh AS (SELECT id, list_distinct(list_transform(range(1, len(toks) - 1),
       |    i -> array_to_string(toks[i:i+2], ' '))) AS g
       |  FROM mh_t WHERE len(toks) >= 3),
       |mh_bs AS (SELECT id, list_transform(g, x ->
       |    CAST('0x' || substr(md5(x), 1, 7) AS BIGINT)) AS bases FROM mh_sh),
       |mh_sig AS (SELECT id, $sigExprs AS sig FROM mh_bs),
       |mh_banded AS (SELECT id, sig, b.band AS band,
       |    md5(CAST(to_json(sig[b.band*$MH_ROWS+1:b.band*$MH_ROWS+$MH_ROWS]) AS VARCHAR)) AS band_hash
       |  FROM mh_sig, (SELECT unnest(range(0, $MH_BANDS)) AS band) b),
       |mh_pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       |    len(list_filter(range(1, $k + 1), i -> a.sig[i] = b.sig[i])) / $k.0 AS jaccard_est
       |  FROM mh_banded a JOIN mh_banded b
       |    ON a.band = b.band AND a.band_hash = b.band_hash AND a.id < b.id)""".stripMargin
  }

  val qMinhashLsh: Q = "q_minhash_lsh" -> (
    (s: SparkSession, d: String) =>
      Dedup.minhashLsh(Tables.documents(s, d), tau = MH_TAU,
        shingleLen = 3, bands = MH_BANDS, rowsPerBand = MH_ROWS)
        .orderBy(col("id_a"), col("id_b")),
    s"""WITH src0 AS (SELECT doc_id AS id, text FROM documents),
       |${minhashPairsCtes("src0")}
       |SELECT id_a, id_b, jaccard_est FROM mh_pairs
       |WHERE jaccard_est >= $MH_TAU ORDER BY id_a, id_b""".stripMargin)

  /** Benchmark decontamination: eval docs (odd ids here) that
    * near-duplicate any training doc (even ids) via cross-corpus
    * MinHash-LSH. The oracle computes signatures over the union and
    * keeps exactly the parity-crossing pairs — per-doc signatures are
    * identical either way, so the hash must match. */
  /** Shared by the inline and store-served cross-corpus queries —
    * signatures are deterministic, so both replay against the same
    * banded-pairs SQL. */
  private def decontamOracleSql: String =
    s"""WITH src0 AS (SELECT doc_id AS id, text FROM documents),
       |${minhashPairsCtes("src0")}
       |SELECT CASE WHEN id_a % 2 = 0 THEN id_a ELSE id_b END AS corpus_id,
       |  CASE WHEN id_a % 2 = 0 THEN id_b ELSE id_a END AS probe_id,
       |  jaccard_est
       |FROM mh_pairs
       |WHERE jaccard_est >= $MH_TAU AND (id_a % 2) <> (id_b % 2)
       |ORDER BY corpus_id, probe_id""".stripMargin

  val qDecontaminate: Q = "q_decontaminate" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      Dedup.crossMinhashLsh(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          tau = MH_TAU, shingleLen = 3, bands = MH_BANDS, rowsPerBand = MH_ROWS)
        .orderBy(col("corpus_id"), col("probe_id"))
    },
    decontamOracleSql)

  /** q_decontaminate served from the write-iff-absent banded-signature
    * store: the corpus side (even ids) is signed once to parquet, the
    * probe batch (odd ids) joins the stored (band, band_hash) rows —
    * the steady-state incremental-crawl dedup shape. Same oracle as the
    * inline form (deterministic signatures). */
  val qMinhashStored: Q = "q_minhash_stored" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val store = codebookPath(d, "minhash_sigs")
      Dedup.minhashBandsStored(docs.filter(col("doc_id") % 2 === 0), store,
        shingleLen = 3, bands = MH_BANDS, rowsPerBand = MH_ROWS)
      Dedup.minhashIncremental(docs.filter(col("doc_id") % 2 === 1), store,
          tau = MH_TAU, shingleLen = 3, bands = MH_BANDS, rowsPerBand = MH_ROWS)
        .orderBy(col("corpus_id"), col("probe_id"))
    },
    decontamOracleSql)

  /** The FULL incremental-dedup lifecycle over three corpus slices
    * (doc_id mod 3): slice 0 is the signed corpus, slice 1 a crawl
    * increment deduplicated against it whose SURVIVORS' signatures are
    * then folded into the store (minhashStoreAppend — new parquet
    * files, corpus rows never rewritten), slice 2 the next increment,
    * deduplicated against corpus + survivors. The oracle replays the
    * whole lifecycle from one union-wide pair table: a slice-2 pair
    * counts iff its other side is slice 0 or a slice-1 survivor. */
  val qMinhashAppend: Q = "q_minhash_append" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val store = codebookPath(d, "minhash_append")
      val corpus = docs.filter(col("doc_id") % 3 === 0)
      val batch1 = docs.filter(col("doc_id") % 3 === 1)
      val batch2 = docs.filter(col("doc_id") % 3 === 2)
      Dedup.minhashBandsStored(corpus, store,
        shingleLen = 3, bands = MH_BANDS, rowsPerBand = MH_ROWS)
      val dupIds = Dedup.minhashIncremental(batch1, store, tau = MH_TAU,
          shingleLen = 3, bands = MH_BANDS, rowsPerBand = MH_ROWS)
        .select(col("probe_id").as("doc_id")).distinct()
      Dedup.minhashStoreAppend(batch1.join(dupIds, Seq("doc_id"), "left_anti"),
        store, batchTag = "b1",
        shingleLen = 3, bands = MH_BANDS, rowsPerBand = MH_ROWS)
      Dedup.minhashIncremental(batch2, store, tau = MH_TAU,
          shingleLen = 3, bands = MH_BANDS, rowsPerBand = MH_ROWS)
        .orderBy(col("corpus_id"), col("probe_id"))
    },
    s"""WITH src0 AS (SELECT doc_id AS id, text FROM documents),
       |${minhashPairsCtes("src0")},
       |b1dup AS (SELECT DISTINCT CASE WHEN id_a % 3 = 1 THEN id_a ELSE id_b END AS id
       |  FROM mh_pairs WHERE jaccard_est >= $MH_TAU
       |    AND ((id_a % 3) + (id_b % 3) = 1)),
       |sel AS (SELECT CASE WHEN id_a % 3 = 2 THEN id_b ELSE id_a END AS corpus_id,
       |    CASE WHEN id_a % 3 = 2 THEN id_a ELSE id_b END AS probe_id, jaccard_est
       |  FROM mh_pairs WHERE jaccard_est >= $MH_TAU
       |    AND ((id_a % 3 = 2) <> (id_b % 3 = 2)))
       |SELECT corpus_id, probe_id, jaccard_est FROM sel
       |WHERE corpus_id % 3 = 0 OR corpus_id NOT IN (SELECT id FROM b1dup)
       |ORDER BY corpus_id, probe_id""".stripMargin)

  /** STRICT decontamination: probe docs (odd ids) sharing any EXACT
    * 5-token shingle with any corpus doc (even ids), with the count of
    * distinct contaminated grams per probe doc. Complements
    * q_decontaminate's near-dup rule: that catches paraphrases, this is
    * the published-benchmark n-gram-overlap rule (run at n≈13 in
    * production; n=5 here so the fixture's planted duplicates register).
    * The Spark side joins on 60-bit gram hashes, the oracle on gram
    * strings — a hash match certifies the hashing loses nothing. */
  val qNgramDecontam: Q = "q_ngram_decontam" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      Dedup.crossNgramContaminated(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), n = 5)
        .orderBy(col("probe_id"))
    },
    s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
       |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' ')))) AS gram
       |  FROM t WHERE len(toks) >= 5),
       |c AS (SELECT DISTINCT gram FROM g WHERE doc_id % 2 = 0),
       |p AS (SELECT doc_id, gram FROM g WHERE doc_id % 2 = 1)
       |SELECT p.doc_id AS probe_id, count(*) AS hits
       |FROM p JOIN c USING (gram)
       |GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Contamination REPORT: per eval doc (odd ids), the fraction of its
    * distinct 5-grams found anywhere in the training corpus (even ids)
    * — clean docs included at 0.0, the graded "dirty if > X% overlap"
    * number whose strict special case is q_ngram_decontam. */
  val qContamFrac: Q = "q_contam_frac" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      Dedup.contaminationReport(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), n = 5)
        .orderBy(col("probe_id"))
    },
    s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
       |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' ')))) AS gram
       |  FROM t WHERE len(toks) >= 5),
       |c AS (SELECT DISTINCT gram FROM g WHERE doc_id % 2 = 0),
       |p AS (SELECT doc_id, gram FROM g WHERE doc_id % 2 = 1),
       |j AS (SELECT p.doc_id, CASE WHEN c.gram IS NULL THEN 0 ELSE 1 END AS hit
       |  FROM p LEFT JOIN c USING (gram))
       |SELECT doc_id AS probe_id, count(*) AS n_grams,
       |  CAST(sum(hit) AS BIGINT) AS n_hit,
       |  round(CAST(sum(hit) AS DOUBLE) / count(*), 6) AS hit_frac
       |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Repetition / boilerplate quality signals, map-only per doc:
    * duplicate-bigram fraction (1 − distinct/total positions) and the
    * occurrence count of the most frequent trigram. The Spark side is a
    * single projection (sort + fold over the shingle array, no explode
    * or per-doc re-aggregation); the oracle recomputes both via
    * unnest + GROUP BY — a hash match certifies the fold. */
  val qRepetition: Q = "q_repetition" -> (
    (s: SparkSession, d: String) =>
      Tables.documents(s, d)
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          Text.dupNgramFraction(col("toks"), 2).as("dup2"),
          Text.maxNgramRepeat(col("toks"), 3).as("rep3"))
        .orderBy(col("doc_id")),
    s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
       |b AS (SELECT doc_id, list_transform(range(1, len(toks)),
       |    i -> array_to_string(toks[i:i+1], ' ')) AS g2 FROM t),
       |tri AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
       |    i -> array_to_string(toks[i:i+2], ' '))) AS g3
       |  FROM t WHERE len(toks) >= 3),
       |cnt AS (SELECT doc_id, g3, count(*) AS c FROM tri GROUP BY 1, 2),
       |mx AS (SELECT doc_id, max(c) AS mxc FROM cnt GROUP BY 1)
       |SELECT b.doc_id,
       |  round(CASE WHEN len(g2) > 0
       |    THEN 1.0 - len(list_distinct(g2)) / CAST(len(g2) AS DOUBLE)
       |    ELSE 0.0 END, 6) AS dup2,
       |  COALESCE(mx.mxc, 0) AS rep3
       |FROM b LEFT JOIN mx USING (doc_id)
       |ORDER BY doc_id""".stripMargin)

  /** Near-dup CLUSTERS from the LSH pair list (connected components via
    * hash-min label propagation; oracle: recursive CTE reachability).
    * cluster_id = min doc id of the component — the canonical
    * representative a dedup pipeline keeps. */
  val qDupClusters: Q = "q_dup_clusters" -> (
    (s: SparkSession, d: String) => {
      val pairs = Dedup.minhashLsh(Tables.documents(s, d), tau = MH_TAU,
        shingleLen = 3, bands = MH_BANDS, rowsPerBand = MH_ROWS)
      Dedup.duplicateClusters(pairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy(col("doc_id"))
    },
    s"""WITH RECURSIVE src0 AS (SELECT doc_id AS id, text FROM documents),
       |${minhashPairsCtes("src0")},
       |p AS (SELECT id_a, id_b FROM mh_pairs WHERE jaccard_est >= $MH_TAU),
       |e AS (SELECT id_a AS src, id_b AS dst FROM p
       |  UNION ALL SELECT id_b, id_a FROM p),
       |v AS (SELECT DISTINCT src AS id FROM e),
       |reach(id, r) AS (
       |  SELECT id, id FROM v
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id)
       |SELECT id AS doc_id, min(r) AS cluster_id
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)

  /** Composite training-corpus pipeline: exact dedup → MinHash near-dup
    * removal (drop the higher id of each pair) → quality floor → per-
    * language corpus stats. The end-to-end shape of a 100 TB data-prep
    * job, each stage reusing the library ops. */
  val qCorpusPipeline: Q = "q_corpus_pipeline" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      // stage 1: exact dedup (keep lowest doc_id per fingerprint).
      // Persisted: three consumers (both LSH self-join sides + the
      // anti-join left) would otherwise re-run the scan+window chain.
      val kept = docs
        .withColumn("fp", Text.fingerprint(col("text")))
        .withColumn("keep_id", min(col("doc_id"))
          .over(Window.partitionBy(col("fp"))))
        .filter(col("doc_id") === col("keep_id"))
        .drop("fp", "keep_id")
        .persist()
      // stage 2: near-dup removal — drop id_b of every LSH pair
      val nearDupIds = Dedup.minhashLsh(kept, tau = MH_TAU,
        shingleLen = 3, bands = MH_BANDS, rowsPerBand = MH_ROWS)
        .select(col("id_b").as("doc_id")).distinct()
      val depuped = kept.join(nearDupIds, Seq("doc_id"), "left_anti")
      // stage 3: quality floor + stats (decimal-exact quality sum)
      depuped
        .withColumn("q", Text.qualityScore(col("text")))
        .filter(col("q") >= 0.5)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(Text.tokenCount(col("text")).cast("long")).as("sum_tokens"),
          sum(col("q").cast("decimal(9,6)")).cast("double").as("sum_quality"))
        .orderBy(col("lang"))
    },
    s"""WITH kept AS (
       |  SELECT doc_id, text, lang FROM (
       |    SELECT doc_id, text, lang,
       |      min(doc_id) OVER (PARTITION BY md5($NORM)) AS keep_id
       |    FROM documents) WHERE doc_id = keep_id),
       |src0 AS (SELECT doc_id AS id, text FROM kept),
       |${minhashPairsCtes("src0")},
       |neardup AS (SELECT DISTINCT id_b FROM mh_pairs WHERE jaccard_est >= $MH_TAU),
       |deduped AS (SELECT * FROM kept WHERE doc_id NOT IN (SELECT id_b FROM neardup)),
       |scored AS (SELECT lang, len($TOKS) AS n_tokens, round(
       |    LEAST(len($TOKS) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE)
       |    + (CAST(1.0 AS DOUBLE) - length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / GREATEST(length(text), 1)) * CAST(0.2 AS DOUBLE)
       |    + length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / GREATEST(length(text), 1) * CAST(0.2 AS DOUBLE)
       |    + len(list_distinct($TOKS)) / GREATEST(len($TOKS), 1) * CAST(0.2 AS DOUBLE), 6) AS q
       |  FROM deduped)
       |SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |  CAST(SUM(CAST(q AS DECIMAL(9,6))) AS DOUBLE) AS sum_quality
       |FROM scored WHERE q >= 0.5
       |GROUP BY lang ORDER BY lang""".stripMargin)

  /** Curation pipeline v2 — the MODEL-side composite (q_corpus_pipeline
    * is the surface-side one): unigram-LM quality floor (OOV fraction
    * over a top-500 corpus vocabulary) → temperature-balanced mixing
    * (α = 0.5 over lang, rates recomputed on the FILTERED corpus) →
    * per-lang output stats. Every stage is the already-oracled library
    * op; the oracle chains their exact SQL mirrors, so the whole
    * composition stays hash-checked end to end. */
  val qCurationPipeline: Q = "q_curation_pipeline" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val (vocab, _) = graft.ops.TextStats.unigramModel(docs, vocabSize = 500)
      val scored = graft.ops.TextStats.unigramScores(docs, vocab)
      val kept = docs.join(
        scored.filter(col("oov_frac") <= 0.2).select(col("id").as("doc_id")),
        Seq("doc_id"))
      graft.ops.Sampling.temperatureMix(kept, "lang", alpha = 0.5,
          totalFraction = 0.5, keyCol = "doc_id", seed = 13)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(Text.tokenCount(col("text")).cast("long")).as("sum_tokens"))
        .orderBy(col("lang"))
    },
    s"""WITH flat AS (SELECT doc_id AS id, unnest($TOKS) AS term FROM documents),
       |counts AS (SELECT term, count(*) AS c FROM flat GROUP BY 1),
       |vocab AS (SELECT term FROM counts ORDER BY c DESC, term ASC LIMIT 500),
       |sc AS (SELECT f.id, count(*) AS n_toks,
       |    sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS n_oov
       |  FROM flat f LEFT JOIN vocab v USING (term) GROUP BY f.id),
       |kept AS (SELECT d.* FROM documents d JOIN sc ON sc.id = d.doc_id
       |  WHERE round(CAST(sc.n_oov AS DOUBLE) / sc.n_toks, 6) <= 0.2),
       |n AS (SELECT lang, count(*) AS ng FROM kept GROUP BY 1),
       |s AS (SELECT list_sum(list(sqrt(CAST(ng AS DOUBLE)) ORDER BY lang)) AS sw,
       |    CAST(sum(ng) AS DOUBLE) AS ntot FROM n),
       |w AS (SELECT lang, ng,
       |    (0.5 * ntot * (sqrt(CAST(ng AS DOUBLE)) / sw)) / CAST(ng AS DOUBLE) AS rate
       |  FROM n CROSS JOIN s),
       |t AS (SELECT lang, CAST(floor(rate) AS BIGINT) AS whole,
       |    CAST(round((rate - floor(rate)) * 1000000, 0) AS BIGINT) AS frac_thr FROM w),
       |c AS (SELECT k.doc_id, k.lang, len($TOKS) AS n_tokens,
       |    whole + CASE WHEN ${hashUnitSql("doc_id", 13)} < frac_thr THEN 1 ELSE 0 END AS copies
       |  FROM kept k JOIN t ON k.lang = t.lang),
       |m AS (SELECT doc_id, lang, n_tokens, unnest(range(copies)) AS copy
       |  FROM c WHERE copies > 0)
       |SELECT lang, count(*) AS n_rows, count(DISTINCT doc_id) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
       |FROM m GROUP BY lang ORDER BY lang""".stripMargin)

  /** Exact n-gram Jaccard near-dup pairs, blocked by lang. */
  val qNgramJaccard: Q = "q_ngram_jaccard" -> (
    (s: SparkSession, d: String) =>
      // maxDf = 64 sits well above the fixture's max per-block gram df
      // (14) — the cap changes the plan to filter-verify, not the result
      Dedup.ngramJaccard(Tables.documents(s, d), tau = 0.5, blockCol = "lang",
          maxDf = 64)
        .orderBy(col("id_a"), col("id_b")),
    s"""WITH t AS (SELECT doc_id AS id, lang, $TOKS AS toks FROM documents),
       |sh AS (SELECT id, lang, list_distinct(list_transform(range(1, len(toks) - 1),
       |    i -> array_to_string(toks[i:i+2], ' '))) AS g
       |  FROM t WHERE len(toks) >= 3),
       |ex0 AS (SELECT id, lang, len(g) AS n_sh, unnest(g) AS gr FROM sh),
       |ex AS (SELECT id, lang, n_sh,
       |    CAST('0x' || substr(md5(gr), 1, 15) AS BIGINT) AS gh FROM ex0),
       |pc AS (SELECT x.id AS id_a, y.id AS id_b, x.n_sh AS na, y.n_sh AS nb,
       |    count(*) AS common
       |  FROM ex x JOIN ex y ON x.lang = y.lang AND x.gh = y.gh AND x.id < y.id
       |  GROUP BY 1, 2, 3, 4)
       |SELECT id_a, id_b, common / CAST(na + nb - common AS DOUBLE) AS jaccard
       |FROM pc WHERE common / CAST(na + nb - common AS DOUBLE) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin)

  /** PREFIX-FILTERED exact Jaccard at τ=0.4
    * ([[graft.ops.Dedup.ngramJaccardPrefix]], the SSJoin/PPJoin prefix
    * principle): docs index only their |g| − ⌈τ·|g|⌉ + 1 globally-
    * rarest grams; the prefix lemma makes the candidate set COMPLETE
    * (no recall trade, unlike the df cap), so the oracle is the plain
    * exact all-pairs form. */
  val qNgramPrefix: Q = "q_ngram_prefix" -> (
    (s: SparkSession, d: String) =>
      Dedup.ngramJaccardPrefix(Tables.documents(s, d), tau = 0.4,
          blockCol = "lang")
        .orderBy(col("id_a"), col("id_b")),
    s"""WITH t AS (SELECT doc_id AS id, lang, $TOKS AS toks FROM documents),
       |sh AS (SELECT id, lang, list_distinct(list_transform(range(1, len(toks) - 1),
       |    i -> array_to_string(toks[i:i+2], ' '))) AS g
       |  FROM t WHERE len(toks) >= 3),
       |ex0 AS (SELECT id, lang, len(g) AS n_sh, unnest(g) AS gr FROM sh),
       |ex AS (SELECT id, lang, n_sh,
       |    CAST('0x' || substr(md5(gr), 1, 15) AS BIGINT) AS gh FROM ex0),
       |pc AS (SELECT x.id AS id_a, y.id AS id_b, x.n_sh AS na, y.n_sh AS nb,
       |    count(*) AS common
       |  FROM ex x JOIN ex y ON x.lang = y.lang AND x.gh = y.gh AND x.id < y.id
       |  GROUP BY 1, 2, 3, 4)
       |SELECT id_a, id_b, common / CAST(na + nb - common AS DOUBLE) AS jaccard
       |FROM pc WHERE common / CAST(na + nb - common AS DOUBLE) >= 0.4
       |ORDER BY id_a, id_b""".stripMargin)

  /** n-gram CONTAINMENT at τ=0.6 — the asymmetric companion of
    * q_ngram_jaccard (common / min set size): catches the quote/subset
    * near-dup whose symmetric Jaccard is structurally tiny. Same
    * df-capped postings plan, length-ratio candidate filter off. */
  val qNgramContainment: Q = "q_ngram_containment" -> (
    (s: SparkSession, d: String) =>
      Dedup.ngramContainment(Tables.documents(s, d), tau = 0.6,
          blockCol = "lang", maxDf = 64)
        .orderBy(col("id_a"), col("id_b")),
    s"""WITH t AS (SELECT doc_id AS id, lang, $TOKS AS toks FROM documents),
       |sh AS (SELECT id, lang, list_distinct(list_transform(range(1, len(toks) - 1),
       |    i -> array_to_string(toks[i:i+2], ' '))) AS g
       |  FROM t WHERE len(toks) >= 3),
       |ex0 AS (SELECT id, lang, len(g) AS n_sh, unnest(g) AS gr FROM sh),
       |ex AS (SELECT id, lang, n_sh,
       |    CAST('0x' || substr(md5(gr), 1, 15) AS BIGINT) AS gh FROM ex0),
       |pc AS (SELECT x.id AS id_a, y.id AS id_b, x.n_sh AS na, y.n_sh AS nb,
       |    count(*) AS common
       |  FROM ex x JOIN ex y ON x.lang = y.lang AND x.gh = y.gh AND x.id < y.id
       |  GROUP BY 1, 2, 3, 4)
       |SELECT id_a, id_b, common / CAST(LEAST(na, nb) AS DOUBLE) AS containment
       |FROM pc WHERE common / CAST(LEAST(na, nb) AS DOUBLE) >= 0.6
       |ORDER BY id_a, id_b""".stripMargin)

  /** SimHash signatures (48-bit, majority-vote bits over token hashes). */
  val qSimhash: Q = "q_simhash" -> (
    (s: SparkSession, d: String) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          transform(array_distinct(Text.tokens(col("text"))),
            t => Text.hash64(t, 0)).as("th"))
        .select(col("doc_id"), Text.simhashFromHashes(col("th")).as("sh"))
        .orderBy(col("doc_id")),
    s"""WITH t AS (SELECT doc_id,
       |    list_transform(list_distinct($TOKS), tk ->
       |      CAST('0x' || substr(md5('0' || tk), 1, 15) AS BIGINT)) AS th
       |  FROM documents)
       |SELECT doc_id, CAST(list_sum(list_transform(range(0, 48), i ->
       |    CASE WHEN list_sum(list_transform(th, h ->
       |        CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
       |      THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS sh
       |FROM t ORDER BY doc_id""".stripMargin)

  /** Embedding cosine near-dup, ADAPTIVE path: blocks up to `smallBlock`
    * take the exact all-pairs kernel; only popular blocks pay the
    * banded-LSH candidates + exact cosine refine. At the test SFs every
    * block is small, so this run certifies the adaptive routing + exact
    * kernel against the all-pairs oracle; the LSH route's exactness at
    * this hostile tau is pinned separately (CorpusOpsSpec: mixed-route
    * equivalence with smallBlock forced below the fixture block width,
    * and the 391/391 LSH≡exact pair check). */
  val qEmbedNearDup: Q = "q_embed_neardup" -> (
    (s: SparkSession, d: String) =>
      Dedup.embeddingNearDupAdaptive(Tables.embeddings(s, d), tau = 0.35)
        .orderBy(col("id_a"), col("id_b")),
    s"""WITH e AS (SELECT label, vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings),
       |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    round(CASE WHEN a.nrm * b.nrm > 0.0
       |      THEN ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm)
       |      ELSE 0.0 END, 6) AS cos
       |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
       |SELECT id_a, id_b, cos FROM pairs WHERE cos >= 0.35
       |ORDER BY id_a, id_b""".stripMargin)

  /** Brute-force cosine top-k ANN (exact baseline; broadcast query set). */
  val qAnnBrute: Q = "q_ann_brute" -> (
    (s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
      Ann.bruteTopK(emb, emb.filter(col("vec_id") < 10), k = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("q_id"), col("rank"))
    },
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_v FROM embeddings WHERE vec_id < 10),
       |scored AS (SELECT q_id, c.vec_id AS n_id,
       |    round(${cosSql("q_v", "c.embedding")}, 6) AS cos
       |  FROM q JOIN embeddings c ON c.vec_id <> q_id),
       |ranked AS (SELECT q_id, n_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, cos, rank FROM ranked WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin)

  /** S6 payload decode + demux (reference machine.rs:65-79): try-decode
    * the JSON payload against per-variant schemas; rows that fail a
    * variant's schema fall through (null), decode-error rows are
    * countable. `from_json` in PERMISSIVE shape: here all props parse as
    * {k}, and the demux tags the variant from event_type. */
  val qPayloadDecode: Q = "q_payload_decode" -> (
    (s: SparkSession, d: String) => {
      val ev = Tables.read_events_raw(s, d)
      val parsed = ev.select(col("event_id"), col("event_type"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k LONG")).as("p"))
      parsed.select(col("event_id"),
        when(col("event_type").isin("view", "click"), lit("interaction"))
          .when(col("event_type").isin("purchase", "signup"), lit("conversion"))
          .otherwise(lit("fault")).as("variant"),
        col("p.k").as("k"),
        col("p").isNull.cast("long").as("decode_error"))
        .orderBy(col("event_id"))
    },
    """SELECT event_id,
      |  CASE WHEN event_type IN ('view', 'click') THEN 'interaction'
      |       WHEN event_type IN ('purchase', 'signup') THEN 'conversion'
      |       ELSE 'fault' END AS variant,
      |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
      |  CAST(CASE WHEN json_valid(props) THEN 0 ELSE 1 END AS BIGINT) AS decode_error
      |FROM events ORDER BY event_id""".stripMargin)

  /** S2 `new_limited` look-back (reference flow.rs:225-231): event-time
    * cutoff as a source predicate — pushes to the parquet scan (file/
    * partition pruning at scale; `PushedFilters` in the plan). */
  val qLookback: Q = "q_lookback" -> (
    (s: SparkSession, d: String) => {
      // cutoff applied to the STORED column (whatever its encoding), not
      // derived ts_us: a predicate on a derived expression cannot reach
      // the parquet scan; eventsSince keeps the filter in PushedFilters
      // (file/row-group pruning at scale)
      Tables.eventsSince(s, d, 1705708800000000L) // 2024-01-20 (last ~11 days)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("ts_us")).as("first_us"))
        .orderBy(col("event_type"))
    },
    """SELECT event_type, count(*) AS n, min(epoch_us(ts)) AS first_us
      |FROM events WHERE epoch_us(ts) >= 1705708800000000
      |GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** LSH-bucketed ANN (scale path): hyperplane signatures on both sides,
    * same-bucket candidates only. */
  val qAnnLsh: Q = "q_ann_lsh" -> (
    (s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
      Ann.lshTopK(emb, emb.filter(col("vec_id") < 50), k = 3, dim = 64, planes = 6)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("q_id"), col("rank"))
    },
    {
      val planes = graft.functions.Vectors.deterministicPlanes(64, 6)
      def planeDot(v: String, p: Seq[Double]) = {
        val lst = p.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
        s"list_sum(list_transform(range(1, 65), i -> CAST($v[i] AS DOUBLE) * ($lst)[i]))"
      }
      def bucket(v: String) = planes.zipWithIndex.map { case (p, j) =>
        s"(CASE WHEN ${planeDot(v, p)} > 0.0 THEN ${1L << j} ELSE 0 END)"
      }.mkString("(", " + ", ")")
      s"""WITH b AS (SELECT vec_id, embedding, ${bucket("embedding")} AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS q_v, bucket FROM b WHERE vec_id < 50),
         |scored AS (SELECT q_id, c.vec_id AS n_id,
         |    round(${cosSql("q_v", "c.embedding")}, 6) AS cos
         |  FROM q JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.q_id),
         |ranked AS (SELECT q_id, n_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |  FROM scored)
         |SELECT q_id, n_id, cos, rank FROM ranked WHERE rank <= 3
         |ORDER BY q_id, rank""".stripMargin
    })

  /** Multi-probe LSH ([[graft.ops.Ann.multiProbeLshTopK]], Lv et al.
    * 2007): the query probes its own bucket plus nProbe−1 single-bit
    * flips of its lowest-|margin| planes — multiple-table recall at
    * one table's storage. The oracle replays the margin sort (ties →
    * lower plane index), the XOR'd probe buckets, and the ranking. */
  val qAnnMultiProbe: Q = "q_ann_multiprobe" -> (
    (s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
      Ann.multiProbeLshTopK(emb, emb.filter(col("vec_id") < 50), k = 3,
        dim = 64, planes = 6, nProbe = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("q_id"), col("rank"))
    },
    {
      val planes = graft.functions.Vectors.deterministicPlanes(64, 6)
      def planeDot(v: String, p: Seq[Double]) = {
        val lst = p.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
        s"list_sum(list_transform(range(1, 65), i -> CAST($v[i] AS DOUBLE) * ($lst)[i]))"
      }
      def bucket(v: String) = planes.zipWithIndex.map { case (p, j) =>
        s"(CASE WHEN ${planeDot(v, p)} > 0.0 THEN ${1L << j} ELSE 0 END)"
      }.mkString("(", " + ", ")")
      val dsList = planes.map(p => planeDot("embedding", p))
        .mkString("[", ", ", "]")
      s"""WITH b AS (SELECT vec_id, embedding, ${bucket("embedding")} AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS q_id, embedding AS q_v, bucket AS base,
         |    $dsList AS ds
         |  FROM b WHERE vec_id < 50),
         |m AS (SELECT q_id, j, abs(ds[j + 1]) AS am
         |  FROM q, unnest(range(0, 6)) AS t(j)),
         |fl AS (SELECT q_id, j, row_number() OVER (
         |    PARTITION BY q_id ORDER BY am ASC, j ASC) AS fr FROM m),
         |pb AS (SELECT q_id, q_v, base AS bucket FROM q
         |  UNION ALL
         |  SELECT q.q_id, q.q_v, xor(q.base, (CAST(1 AS BIGINT) << f.j))
         |  FROM fl f JOIN q USING (q_id) WHERE f.fr <= 2),
         |scored AS (SELECT pb.q_id, c.vec_id AS n_id,
         |    round(${cosSql("pb.q_v", "c.embedding")}, 6) AS cos
         |  FROM pb JOIN b c ON c.bucket = pb.bucket AND c.vec_id <> pb.q_id),
         |ranked AS (SELECT q_id, n_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |  FROM scored)
         |SELECT q_id, n_id, cos, rank FROM ranked WHERE rank <= 3
         |ORDER BY q_id, rank""".stripMargin
    })

  /** IVF ANN: inverted-file cells from fixed seed centroids, nprobe=2. */
  val qAnnIvf: Q = "q_ann_ivf" -> (
    (s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
      Ann.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 3,
        centroidIds = (0L until 16L), nprobe = 2)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("q_id"), col("rank"))
    },
    {
      val centList = (0 until 16).mkString("(", ", ", ")")
      s"""WITH cents AS (SELECT vec_id AS c_id, embedding AS c_v
         |  FROM embeddings WHERE vec_id IN $centList),
         |cell_n AS (SELECT n_id, n_v, c_id AS cell FROM (
         |  SELECT e.vec_id AS n_id, e.embedding AS n_v, c.c_id,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cosSql("e.embedding", "c.c_v")} DESC, c.c_id) AS crank
         |  FROM embeddings e CROSS JOIN cents c) WHERE crank = 1),
         |probe_q AS (SELECT q_id, q_v, c_id AS cell FROM (
         |  SELECT e.vec_id AS q_id, e.embedding AS q_v, c.c_id,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cosSql("e.embedding", "c.c_v")} DESC, c.c_id) AS crank
         |  FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 10) WHERE crank <= 2),
         |scored AS (SELECT q_id, n_id, round(${cosSql("q_v", "n_v")}, 6) AS cos
         |  FROM cell_n JOIN probe_q USING (cell) WHERE q_id <> n_id),
         |ranked AS (SELECT q_id, n_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |  FROM scored)
         |SELECT q_id, n_id, cos, rank FROM ranked WHERE rank <= 3
         |ORDER BY q_id, rank""".stripMargin
    })

  /** Multimodal plumbing: binary column + stubbed decode (sha256-derived
    * fake features); the oracle checks the real parts (bytes, digest,
    * deterministic stub arithmetic). */
  val qMultimodal: Q = "q_multimodal" -> (
    (s: SparkSession, d: String) => {
      val media = Multimodal.mediaFromDocuments(Tables.documents(s, d))
      Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("modality"), col("n_bytes"), col("sha256"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"))
        .orderBy(col("media_id"))
    },
    """SELECT doc_id AS media_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'image'
      |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  sha256(text) AS sha256,
      |  CAST(16 + CAST('0x' || substr(sha256(text), 1, 2) AS INT) * 4 AS BIGINT) AS width,
      |  CAST(16 + CAST('0x' || substr(sha256(text), 3, 2) AS INT) * 4 AS BIGINT) AS height,
      |  CAST(CASE WHEN doc_id % 3 = 2
      |    THEN 1 + CAST('0x' || substr(sha256(text), 5, 2) AS INT) % 64
      |    ELSE 1 END AS BIGINT) AS n_frames
      |FROM documents ORDER BY media_id""".stripMargin)

  /** SimHash near-dup pairs within hamming ≤ 1 via 2×24-bit banding —
    * exact by pigeonhole (1 differing bit touches ≤ 1 of the 2 chunks),
    * so the oracle can verify with a direct all-pairs hamming filter.
    * The tight bound keeps banding selective on this corpus's dense
    * near-duplicate structure (hamming ≤ 3 admits 100× the pairs). */
  val qSimhashPairs: Q = "q_simhash_pairs" -> (
    (s: SparkSession, d: String) =>
      Dedup.simhashNearDup(Tables.documents(s, d), maxHamming = 1)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy(col("id_a"), col("id_b")),
    s"""WITH t AS (SELECT doc_id,
       |    list_transform(list_distinct($TOKS), tk ->
       |      CAST('0x' || substr(md5('0' || tk), 1, 15) AS BIGINT)) AS th
       |  FROM documents),
       |sig AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 48), i ->
       |    CASE WHEN list_sum(list_transform(th, h ->
       |        CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
       |      THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS sh
       |  FROM t)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sh, b.sh)) <= 1
       |ORDER BY id_a, id_b""".stripMargin)

  /** Polynomial rolling-hash fingerprint (order-sensitive, incrementally
    * updatable — the streaming fingerprint primitive). */
  val qRollingFp: Q = "q_rolling_fp" -> (
    (s: SparkSession, d: String) =>
      Tables.documents(s, d)
        .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          transform(col("toks"), t => Text.hash64(t, 0)).as("th"))
        .select(col("doc_id"), Text.rollingFingerprint(col("th")).as("rfp"))
        .orderBy(col("doc_id")),
    s"""WITH t AS (SELECT doc_id,
       |    list_transform($TOKS, tk ->
       |      CAST('0x' || substr(md5('0' || tk), 1, 15) AS BIGINT)) AS th
       |  FROM documents)
       |SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), th),
       |    (a, h) -> (a * 1000003 + h) % 2147483647) AS rfp
       |FROM t ORDER BY doc_id""".stripMargin)

  /** Left outer join — order counts per customer including zero (beyond
    * the reference surface: it has only inner J1/J2; Spark native). */
  val qJoinLeft: Q = "q_join_left" -> (
    (s: SparkSession, d: String) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_custkey")),
    """SELECT c_custkey, count(o_orderkey) AS n_orders
      |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)

  /** Left-semi join — the reference composes this effect from
    * negate/concat/distinct; Spark has it native (no payload columns from
    * the right side, no duplicate inflation). */
  val qJoinSemi: Q = "q_join_semi" -> (
    (s: SparkSession, d: String) => {
      val bigOrders = Tables.orders(s, d).filter(col("o_totalprice") > 200000)
      Tables.customer(s, d)
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
    """SELECT c_custkey, c_mktsegment FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
      |ORDER BY c_custkey""".stripMargin)

  /** Left-anti join — customers with no orders (EXCEPT-style filtering
    * without the reference's negate+concat+consolidate detour). */
  val qJoinAnti: Q = "q_join_anti" -> (
    (s: SparkSession, d: String) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_custkey")),
    """SELECT c_custkey, c_acctbal FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |ORDER BY c_custkey""".stripMargin)

  /** Sliding-frame window: decimal-exact moving sum/avg of the last 3
    * orders per customer (frame specs are beyond the reference surface). */
  val qWindowFrame: Q = "q_window_frame" -> (
    (s: SparkSession, d: String) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-2, Window.currentRow)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum(dec(col("o_totalprice"))).over(w).cast("double")
            / count(lit(1)).over(w), 6).as("mavg3"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
    """SELECT o_custkey, o_orderkey, round(
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
      |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |  / count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS mavg3
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)

  /** CUBE over region × nation (all four grouping combinations). */
  /** Pivot (cross-tab): per-source doc counts spread across the lang
    * columns. Values are DECLARED (`pivot(col, values)`), so the plan
    * is one pass — no distinct-values collect job before the agg, the
    * form that survives a 100 TB scan. */
  val qPivot: Q = "q_pivot" -> (
    (s: SparkSession, d: String) =>
      Tables.documents(s, d)
        .groupBy(col("source"))
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("source")),
    """SELECT source,
      |  count(*) FILTER (lang = 'de') AS de,
      |  count(*) FILTER (lang = 'en') AS en,
      |  count(*) FILTER (lang = 'es') AS es,
      |  count(*) FILTER (lang = 'fr') AS fr,
      |  count(*) FILTER (lang = 'zh') AS zh
      |FROM documents GROUP BY source ORDER BY source""".stripMargin)

  val qCube: Q = "q_cube" -> (
    (s: SparkSession, d: String) => {
      val dims = Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      Tables.customer(s, d)
        .join(broadcast(dims), col("c_nationkey") === col("n_nationkey"))
        .cube(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          sum(dec(col("c_acctbal"))).cast("double").as("sum_bal"))
        .select(coalesce(col("r_name"), lit("(all)")).as("r_name"),
          coalesce(col("n_name"), lit("(all)")).as("n_name"),
          col("n_cust"), col("sum_bal"))
        .orderBy(col("r_name"), col("n_name"))
    },
    """SELECT COALESCE(r_name, '(all)') AS r_name,
      |  COALESCE(n_name, '(all)') AS n_name,
      |  count(*) AS n_cust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY CUBE (r_name, n_name)
      |ORDER BY r_name, n_name""".stripMargin)

  /** AS-OF temporal join via the custom operator (logical node →
    * planner strategy → sort-merge exec, graft.plans.AsOfJoin): each
    * purchase matched with the user's latest view at or before it.
    * Oracle: DuckDB's native ASOF JOIN. The output carries only the
    * matched TIME (not arbitrary right columns), so equal-time tie-breaks
    * cannot differ between engines. */
  val qAsOf: Q = "q_asof" -> (
    (s: SparkSession, d: String) => {
      val p = Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val v = Tables.events(s, d).filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts_us").as("v_ts"))
      graft.ops.AsOf.join(p, v, Seq(p("user_id")), Seq(v("v_user")),
          p("ts_us"), v("v_ts"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("v_ts").as("last_view_us"))
        .orderBy(col("event_id"))
    },
    s"""WITH $EV,
       |p AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'purchase'),
       |v AS (SELECT user_id AS v_user, ts_us AS v_ts FROM ev WHERE event_type = 'view')
       |SELECT p.event_id, p.user_id, p.ts_us, v.v_ts AS last_view_us
       |FROM p ASOF JOIN v ON p.user_id = v.v_user AND v.v_ts <= p.ts_us
       |ORDER BY p.event_id""".stripMargin)

  /** Interval (range) join via bucketing: purchases attributed to the
    * 3-day window after each signup of the same user. The bucketed
    * equi-join shape (ops.RangeJoin) replaces the nested-loop plan a
    * raw BETWEEN join would get; the oracle is the plain non-equi join. */
  val qRangeJoin: Q = "q_range_join" -> (
    (s: SparkSession, d: String) => {
      val win = 3L * 86400L * 1000000L // 3 days in µs
      val sg = Tables.events(s, d).filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"), col("user_id"),
          col("ts_us").as("signup_us"))
        .withColumn("end_us", col("signup_us") + lit(win))
      val pu = Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("ts_us").as("purchase_us"))
      graft.ops.RangeJoin.bucketedInterval(
          points = pu, intervals = sg,
          pointKeys = Seq("p_user"), intervalKeys = Seq("user_id"),
          pointTime = pu("purchase_us"), start = sg("signup_us"), end = sg("end_us"),
          bucketWidth = win)
        .select(col("signup_id"), col("user_id"), col("purchase_id"),
          col("purchase_us"), (col("purchase_us") - col("signup_us")).as("lag_us"))
        .orderBy(col("signup_id"), col("purchase_id"))
    },
    s"""WITH $EV,
       |sg AS (SELECT event_id AS signup_id, user_id, ts_us AS signup_us
       |  FROM ev WHERE event_type = 'signup'),
       |pu AS (SELECT event_id AS purchase_id, user_id AS p_user, ts_us AS purchase_us
       |  FROM ev WHERE event_type = 'purchase')
       |SELECT signup_id, user_id, purchase_id, purchase_us,
       |  purchase_us - signup_us AS lag_us
       |FROM sg JOIN pu ON p_user = user_id
       |  AND purchase_us BETWEEN signup_us AND signup_us + CAST(259200000000 AS BIGINT)
       |ORDER BY signup_id, purchase_id""".stripMargin)

  /** AS-OF with look-back tolerance: views older than 12 hours don't
    * attribute. DuckDB's ASOF JOIN takes exactly one inequality, so the
    * oracle expresses tolerance as the window formulation (latest view
    * inside the band per purchase, QUALIFY row_number = 1). */
  val qAsOfTol: Q = "q_asof_tol" -> (
    (s: SparkSession, d: String) => {
      val tol = 12L * 3600L * 1000000L // 12h in µs
      val p = Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val v = Tables.events(s, d).filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts_us").as("v_ts"))
      graft.ops.AsOf.join(p, v, Seq(p("user_id")), Seq(v("v_user")),
          p("ts_us"), v("v_ts"), tolerance = Some(tol))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("v_ts").as("last_view_us"))
        .orderBy(col("event_id"))
    },
    s"""WITH $EV,
       |p AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'purchase'),
       |v AS (SELECT user_id AS v_user, ts_us AS v_ts FROM ev WHERE event_type = 'view')
       |SELECT p.event_id, p.user_id, p.ts_us, v.v_ts AS last_view_us
       |FROM p JOIN v ON p.user_id = v.v_user AND v.v_ts <= p.ts_us
       |QUALIFY row_number() OVER (PARTITION BY p.event_id ORDER BY v.v_ts DESC) = 1
       |  AND p.ts_us - v.v_ts <= CAST(43200000000 AS BIGINT)
       |ORDER BY p.event_id""".stripMargin)

  /** Forward AS-OF (earliest right row at-or-after each left row):
    * next purchase after every signup, via time negation over the same
    * sort-merge exec. Only the matched TIME is projected (equal-time
    * right rows would make richer projections nondeterministic). */
  val qAsOfFwd: Q = "q_asof_fwd" -> (
    (s: SparkSession, d: String) => {
      val sg = Tables.events(s, d).filter(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val pu = Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts_us").as("p_ts"))
      graft.ops.AsOf.joinForward(sg, pu, Seq(sg("user_id")), Seq(pu("p_user")),
          sg("ts_us"), pu("p_ts"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("p_ts").as("next_purchase_us"))
        .orderBy(col("event_id"))
    },
    s"""WITH $EV,
       |sg AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'signup'),
       |pu AS (SELECT user_id AS p_user, ts_us AS p_ts FROM ev WHERE event_type = 'purchase')
       |SELECT sg.event_id, sg.user_id, sg.ts_us, pu.p_ts AS next_purchase_us
       |FROM sg ASOF JOIN pu ON sg.user_id = pu.p_user AND sg.ts_us <= pu.p_ts
       |ORDER BY sg.event_id""".stripMargin)

  /** Exact percentiles per group (linear interpolation — Spark
    * `percentile` ≡ DuckDB `quantile_cont`). Exact sort-based
    * percentile is the verification primitive; the 100 TB path is
    * `approx_percentile` (KLL-ish sketch, one pass, mergeable) —
    * see q_approx_distinct for the sketch-family entry. */
  val qPercentile: Q = "q_percentile" -> (
    (s: SparkSession, d: String) =>
      Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(round(expr("percentile(o_totalprice, 0.5)"), 6).as("median_price"),
          round(expr("percentile(o_totalprice, 0.9)"), 6).as("p90_price"))
        .orderBy(col("o_custkey")),
    """SELECT o_custkey,
      |  round(quantile_cont(o_totalprice, 0.5), 6) AS median_price,
      |  round(quantile_cont(o_totalprice, 0.9), 6) AS p90_price
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)

  /** The trained PQ/IVF-PQ model is exported per sf-dir as a parquet
    * side-table (the oracle SQL below reads the sf0.01 one — the scale
    * the driver verifies at); encode + ADC are deterministic given the
    * codebook, so the quantized index IS hash-checkable. */
  /** Placeholder for the sf-dir BASENAME inside oracle SQL that reads
    * a derived artifact store ([[codebookPath]] lays stores out as
    * `artifacts/<name>_<sfBasename>`). The raw SQL in [[all]] carries
    * this token; [[oracleSqlFor]] substitutes the actual basename, so
    * the same oracle set runs unmodified at ANY scale factor — the
    * sf0.1 sweep (the engine's best scale-bug detector) is turnkey
    * instead of needing 14 hand-retargeted paths. */
  val SF_NAME_TOKEN = "__SF_NAME__"
  private val SF = SF_NAME_TOKEN

  /** The oracle SQL map with artifact-store paths targeted at `sfDir`'s
    * basename (accepts a full dir path or a bare name like "sf0.01").
    * Null-sentinel (non-SQL-expressible) queries are omitted. */
  def oracleSqlFor(sfDir: String): Map[String, String] = {
    val sfName = new org.apache.hadoop.fs.Path(sfDir).getName
    all.collect { case (name, (_, sql)) if sql != null =>
      name -> sql.replace(SF_NAME_TOKEN, sfName)
    }.toMap
  }

  /** Derived-store path, CONTENT-GUARDED against the source corpus:
    * the PATH is stable (`artifacts/<name>_<sf>` — the oracle SQL
    * reads it by that literal name), and a `._content` sidecar records
    * a key folding each source parquet's name and size. A testdata
    * regeneration flips the key, which WIPES the store so the
    * write-iff-absent builders rebuild against the new corpus instead
    * of serving stale signatures to a freshly-computed oracle — the
    * store-side analog of the events-ts lesson (r6: 20 queries lost to
    * a silent re-encode). The earlier content-keyed-SUFFIX variant
    * protected the store but silently broke every oracle's hardcoded
    * `read_parquet` path; path-stable + guarded wipe protects both. */
  private def codebookPath(sfDir: String, name: String): String = {
    import org.apache.hadoop.fs.{Path => HPath}
    val spark = SparkSession.active
    val srcFs = graft.ops.Stores.fileSystem(spark, sfDir)
    val src = new HPath(sfDir)
    val sig =
      if (srcFs.exists(src))
        srcFs.listStatus(src).toSeq
          .filter(_.getPath.getName.endsWith(".parquet"))
          .map(st => st.getPath.getName.hashCode.toLong * 31L ^ st.getLen).sum
      else 0L
    val path = s"/root/repo/artifacts/${name}_${src.getName}"
    val hex = java.lang.Long.toHexString(sig)
    val fs = graft.ops.Stores.fileSystem(spark, path)
    val sidecar = new HPath(path + "._content")
    val fresh = fs.exists(sidecar) && {
      val in = fs.open(sidecar)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](256)
        var n = in.read(tmp)
        while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
        new String(buf.toByteArray, "UTF-8").trim == hex
      } finally in.close()
    }
    if (!fresh) {
      fs.delete(new HPath(path), true)
      val out = fs.create(sidecar, true)
      try out.write(hex.getBytes("UTF-8")) finally out.close()
    }
    path
  }

  /** DuckDB mirror of the [[graft.functions.expr.PqEncode]] /
    * [[graft.functions.expr.PqDistTable]] distance loop: Σ_i (v_i −
    * cw_i)² over one subspace, left-to-right — `cOff` non-empty fuses the
    * residual subtraction exactly like `PqEncodeRes` ((v − cent) − cw). */
  private def subDistSql(v: String, cOff: String): String = {
    val e = s"(CAST($v[cb.sub * 8 + i] AS DOUBLE)$cOff - cb.cv[i])"
    s"list_sum(list_transform(range(1, 9), i -> $e * $e))"
  }

  /** Product-quantization ANN — the memory-bounded similarity-search
    * scale path (64 floats → 8 codes/vector; ADC scoring). The trained
    * codebook is exported as a parquet side-table and the oracle
    * replays the exact pipeline in SQL: per-subspace argmin encode
    * (ties → lowest code), the query's m·k distance table, and the ADC
    * sum in subspace order — every float op is the same left-to-right
    * double fold as the codegen'd kernels, so the hash matches.
    * Ranking quality vs exact brute force is pinned in `PqSpec`. */
  val qPqAnn: Q = "q_pq_ann" -> (
    (s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
      val cb = graft.ops.Pq.trainCodebooksSampled(emb, dim = 64, m = 8, k = 16,
        iters = 2, seedIds = 0L until 16L, sampleCap = 1024)
      graft.ops.Pq.exportCodebook(s, cb, m = 8, k = 16,
        codebookPath(d, "pq_codebook"))
      graft.ops.Pq.adcTopK(emb, emb.filter(col("vec_id") < 10), topK = 3,
          m = 8, k = 16, codebook = cb)
        .withColumn("dist2", round(col("dist2"), 6))
        .orderBy(col("q_id"), col("rank"))
    },
    s"""WITH cb AS (SELECT sub, code, cv
       |    FROM read_parquet('/root/repo/artifacts/pq_codebook_${SF}/*.parquet')),
       |v AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
       |subd AS (SELECT t.id, cb.sub, cb.code, ${subDistSql("t.v", "")} AS d
       |  FROM v t CROSS JOIN cb),
       |enc AS (SELECT id, sub, code FROM (
       |    SELECT id, sub, code, row_number() OVER (PARTITION BY id, sub
       |      ORDER BY d ASC, code ASC) AS rn FROM subd) WHERE rn = 1),
       |qd AS (SELECT id AS q_id, sub, code, d FROM subd WHERE id < 10),
       |sc AS (SELECT q.q_id, e.id AS n_id,
       |    list_sum(list(q.d ORDER BY q.sub)) AS dist2
       |  FROM enc e JOIN qd q ON q.sub = e.sub AND q.code = e.code
       |    AND q.q_id <> e.id
       |  GROUP BY q.q_id, e.id),
       |rk AS (SELECT q_id, n_id, dist2, row_number() OVER (PARTITION BY q_id
       |    ORDER BY dist2 ASC, n_id ASC) AS rank FROM sc)
       |SELECT q_id, n_id, round(dist2, 6) AS dist2, rank FROM rk
       |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin)

  /** Two-stage retrieval: PQ shortlist (ADC top-10, compressed domain)
    * → EXACT cosine re-rank to top-3 ([[graft.ops.Ann.rerankExact]]) —
    * the standard production ANN shape (over-fetch cheap, re-rank
    * exact). The oracle replays the q_pq_ann shortlist CTEs at rank ≤ 10
    * and re-ranks with the same full-precision cosine as q_ann_brute.
    * Same deterministic codebook train+export as q_pq_ann (identical
    * side-table, whichever query runs first writes it). */
  val qAnnRerank: Q = "q_ann_rerank" -> (
    (s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
      val cb = graft.ops.Pq.trainCodebooksSampled(emb, dim = 64, m = 8, k = 16,
        iters = 2, seedIds = 0L until 16L, sampleCap = 1024)
      graft.ops.Pq.exportCodebook(s, cb, m = 8, k = 16,
        codebookPath(d, "pq_codebook"))
      val queries = emb.filter(col("vec_id") < 10)
      val shortlist = graft.ops.Pq.adcTopK(emb, queries, topK = 10,
        m = 8, k = 16, codebook = cb)
      graft.ops.Ann.rerankExact(shortlist, emb, queries, k = 3)
        .orderBy(col("q_id"), col("rank"))
    },
    s"""WITH cb AS (SELECT sub, code, cv
       |    FROM read_parquet('/root/repo/artifacts/pq_codebook_${SF}/*.parquet')),
       |v AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
       |subd AS (SELECT t.id, cb.sub, cb.code, ${subDistSql("t.v", "")} AS d
       |  FROM v t CROSS JOIN cb),
       |enc AS (SELECT id, sub, code FROM (
       |    SELECT id, sub, code, row_number() OVER (PARTITION BY id, sub
       |      ORDER BY d ASC, code ASC) AS rn FROM subd) WHERE rn = 1),
       |qd AS (SELECT id AS q_id, sub, code, d FROM subd WHERE id < 10),
       |sc AS (SELECT q.q_id, e.id AS n_id,
       |    list_sum(list(q.d ORDER BY q.sub)) AS dist2
       |  FROM enc e JOIN qd q ON q.sub = e.sub AND q.code = e.code
       |    AND q.q_id <> e.id
       |  GROUP BY q.q_id, e.id),
       |sl AS (SELECT q_id, n_id FROM (SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id
       |      ORDER BY dist2 ASC, n_id ASC) AS rank FROM sc) WHERE rank <= 10),
       |x AS (SELECT s.q_id, s.n_id,
       |    round(${cosSql("qv.v", "cv.v")}, 6) AS cos
       |  FROM sl s JOIN v qv ON qv.id = s.q_id JOIN v cv ON cv.id = s.n_id),
       |rr AS (SELECT q_id, n_id, cos, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, n_id ASC) AS rank FROM x)
       |SELECT q_id, n_id, cos, CAST(rank AS BIGINT) AS rank FROM rr
       |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin)

  /** IVF-PQ ANN — coarse cells prune where to look, residual PQ codes
    * shrink what is kept (the FAISS IVFPQ composition). Oracled like
    * q_pq_ann: the coarse quantizer is reproduced in SQL from the same
    * corpus vectors (cell = vec_id < 8), the residual codebook comes
    * from the exported side-table, and the residual subtraction is the
    * same fused `(v − cent) − cw` fold as `PqEncodeRes`. */
  /** Shared Spark pipeline of q_ivfpq_ann / q_ivfpq_stored up to the
    * probe: coarse quantizer from raw corpus vectors, residual codebook
    * training, and the codebook export the oracle reads. */
  private def ivfPqSetup(s: SparkSession, d: String, cbName: String) = {
    val emb = Tables.embeddings(s, d)
    val nCells = 8
    val cents = graft.ops.Pq.centroidArray(
      emb.filter(col("vec_id") < nCells)
        .select(col("vec_id").cast("long").as("c_id"),
          expr("transform(embedding, x -> cast(x as double))").as("c_v")),
      dim = 64)
    val cb = graft.ops.Pq.trainResidualCodebooksSampled(emb, cents,
      dim = 64, m = 8, k = 16, iters = 2, sampleCap = 1024)
    graft.ops.Pq.exportCodebook(s, cb, m = 8, k = 16, codebookPath(d, cbName))
    (emb, cents, cb)
  }

  val qIvfPq: Q = "q_ivfpq_ann" -> (
    (s: SparkSession, d: String) => {
      val (emb, cents, cb) = ivfPqSetup(s, d, "ivfpq_codebook")
      graft.ops.Pq.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), topK = 3,
          centroids = cents, dim = 64, m = 8, k = 16, codebook = cb, nProbe = 4)
        .withColumn("dist2", round(col("dist2"), 6))
        .orderBy(col("q_id"), col("rank"))
    },
    ivfPqOracleSql("ivfpq_codebook"))

  /** The DURABLE index path, driver-checked: write the cell-partitioned
    * inverted file ONCE (first call only — deterministic encode, so a
    * rebuilt index is identical), then answer the same probes from
    * storage — results (and so the oracle) are identical to
    * q_ivfpq_ann; only the plan differs (index scan with probe-cell
    * partition pruning, PqIndexSpec pins the PartitionFilters shape).
    * Bench repetitions therefore measure the probe — the steady state
    * the index exists for — not the encode job. */
  val qIvfPqStored: Q = "q_ivfpq_stored" -> (
    (s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
      val cents = graft.ops.Pq.centroidArray(
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").cast("long").as("c_id"),
            expr("transform(embedding, x -> cast(x as double))").as("c_v")),
        dim = 64)
      // codebook AND index both write-once: reps pay the probe only
      val cb = graft.ops.Pq.codebookStored(emb, cents, dim = 64, m = 8,
        k = 16, iters = 2, sampleCap = 1024,
        path = codebookPath(d, "ivfpq_stored_codebook"))
      val idxPath = codebookPath(d, "ivfpq_index")
      graft.ops.Pq.writeIndexIfAbsent(emb, cents, dim = 64, m = 8, k = 16,
        codebook = cb, path = idxPath)
      graft.ops.Pq.ivfPqTopKFromIndex(s, idxPath,
          emb.filter(col("vec_id") < 10), topK = 3,
          centroids = cents, dim = 64, m = 8, k = 16, codebook = cb, nProbe = 4)
        .withColumn("dist2", round(col("dist2"), 6))
        .orderBy(col("q_id"), col("rank"))
    },
    ivfPqOracleSql("ivfpq_stored_codebook"))

  /** The stored IVF-PQ index LIFECYCLE under the driver's hash gate:
    * build the index WITHOUT two slices of the corpus, fold them in
    * via [[graft.ops.Pq.indexAppend]] (frozen model — additions never
    * retrain), then [[graft.ops.Stores.compactPartitioned]] the
    * accrued per-batch file sets, and probe. The oracle is the same
    * one-shot full-corpus SQL as q_ivfpq_stored, so equality
    * certifies append ≡ rebuild AND that cell-aware compaction is
    * row- and pruning-preserving, end to end (PqIndexSpec pins the
    * file-count/marker mechanics; this puts the lifecycle's ANSWERS
    * under the gate). Reps: the base index is write-once, appends
    * no-op on their markers (carried through compaction), compaction
    * no-ops on already-single-file cells. Codebook artifact shared
    * with q_ivfpq_stored — whichever runs first writes it. */
  val qIvfPqCompact: Q = "q_ivfpq_compact" -> (
    (s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
      val cents = graft.ops.Pq.centroidArray(
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").cast("long").as("c_id"),
            expr("transform(embedding, x -> cast(x as double))").as("c_v")),
        dim = 64)
      val cb = graft.ops.Pq.codebookStored(emb, cents, dim = 64, m = 8,
        k = 16, iters = 2, sampleCap = 1024,
        path = codebookPath(d, "ivfpq_stored_codebook"))
      val idxPath = codebookPath(d, "ivfpq_index_app")
      graft.ops.Pq.writeIndexIfAbsent(emb.filter(col("vec_id") >= 20), cents,
        dim = 64, m = 8, k = 16, codebook = cb, path = idxPath)
      graft.ops.Pq.indexAppend(emb.filter(col("vec_id") < 10), cents,
        dim = 64, m = 8, k = 16, codebook = cb, path = idxPath, batchTag = "b0")
      graft.ops.Pq.indexAppend(
        emb.filter(col("vec_id") >= 10 && col("vec_id") < 20), cents,
        dim = 64, m = 8, k = 16, codebook = cb, path = idxPath, batchTag = "b1")
      graft.ops.Stores.compactPartitioned(s, idxPath)
      graft.ops.Pq.ivfPqTopKFromIndex(s, idxPath,
          emb.filter(col("vec_id") < 10), topK = 3,
          centroids = cents, dim = 64, m = 8, k = 16, codebook = cb, nProbe = 4)
        .withColumn("dist2", round(col("dist2"), 6))
        .orderBy(col("q_id"), col("rank"))
    },
    ivfPqOracleSql("ivfpq_stored_codebook"))

  private def ivfPqOracleSql(cbName: String): String =
    s"""WITH cents AS (SELECT CAST(vec_id AS INT) AS cell,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
       |  FROM embeddings WHERE vec_id < 8),
       |cb AS (SELECT sub, code, cv
       |    FROM read_parquet('/root/repo/artifacts/${cbName}_${SF}/*.parquet')),
       |v AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
       |celld AS (SELECT t.id, c.cell,
       |    list_sum(list_transform(range(1, 65), i ->
       |      (CAST(t.v[i] AS DOUBLE) - c.c[i]) * (CAST(t.v[i] AS DOUBLE) - c.c[i]))) AS cd
       |  FROM v t CROSS JOIN cents c),
       |ncell AS (SELECT id, cell FROM (
       |    SELECT id, cell, row_number() OVER (PARTITION BY id
       |      ORDER BY cd ASC, cell ASC) AS rn FROM celld) WHERE rn = 1),
       |encd AS (SELECT n.id, n.cell, cb.sub, cb.code,
       |    ${subDistSql("t.v", " - c.c[cb.sub * 8 + i]")} AS d
       |  FROM ncell n JOIN v t ON t.id = n.id JOIN cents c ON c.cell = n.cell
       |  CROSS JOIN cb),
       |enc AS (SELECT id, cell, sub, code FROM (
       |    SELECT id, cell, sub, code, row_number() OVER (PARTITION BY id, sub
       |      ORDER BY d ASC, code ASC) AS rn FROM encd) WHERE rn = 1),
       |probes AS (SELECT id AS q_id, cell FROM (
       |    SELECT id, cell, row_number() OVER (PARTITION BY id
       |      ORDER BY cd ASC, cell ASC) AS rn FROM celld WHERE id < 10)
       |  WHERE rn <= 4),
       |qd AS (SELECT p.q_id, p.cell, cb.sub, cb.code,
       |    ${subDistSql("t.v", " - c.c[cb.sub * 8 + i]")} AS d
       |  FROM probes p JOIN v t ON t.id = p.q_id JOIN cents c ON c.cell = p.cell
       |  CROSS JOIN cb),
       |sc AS (SELECT q.q_id, e.id AS n_id,
       |    list_sum(list(q.d ORDER BY q.sub)) AS dist2
       |  FROM enc e JOIN qd q ON q.cell = e.cell AND q.sub = e.sub
       |    AND q.code = e.code AND q.q_id <> e.id
       |  GROUP BY q.q_id, e.id),
       |rk AS (SELECT q_id, n_id, dist2, row_number() OVER (PARTITION BY q_id
       |    ORDER BY dist2 ASC, n_id ASC) AS rank FROM sc)
       |SELECT q_id, n_id, round(dist2, 6) AS dist2, rank FROM rk
       |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  /** Semantic dedup (the SemDeDup recipe, arXiv:2303.09540): k-means
    * cells from the IVF coarse-quantizer trainer, then within-cell
    * cosine pruning (keep-lowest-id of every near pair) through the
    * adaptive near-dup path — surface-blind paraphrase dedup the
    * MinHash/SimHash family can't see. Oracled like q_pq_ann: the
    * trained centroids go to a parquet side-table, and the SQL replays
    * the exact `NearestCell` assignment (same left-to-right L2 fold,
    * ties → lowest cell) and the exact pair pruning. */
  val qSemDedup: Q = "q_semdedup" -> (
    (s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
      val cents = graft.ops.Ann.kmeansCentroids(emb,
        seedIds = 0L until 8L, iters = 2, dim = 64)
      graft.ops.SemDedup.exportCentroids(cents, dim = 64,
        codebookPath(d, "semdedup_centroids"))
      val arr = graft.ops.Pq.centroidArray(cents, dim = 64)
      graft.ops.SemDedup.semDedup(emb, arr, dim = 64, tau = 0.35)
        .orderBy(col("vec_id"))
    },
    semDedupOracleSql("semdedup_centroids"))

  /** The TRAIN-ONCE semantic dedup lifecycle, driver-checked: the
    * k-means model is trained and exported only when its side-table is
    * absent, then every call — including every bench repetition — reads
    * the stored model and runs assignment + within-cell pruning only.
    * This is the steady-state corpus-maintenance cost (q_semdedup
    * retrains per call, so it benches Lloyd's, not the operator); same
    * deterministic trainer, so results and oracle are q_semdedup's. */
  val qSemDedupStored: Q = "q_semdedup_stored" -> (
    (s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
      val arr = graft.ops.SemDedup.centroidsStored(emb,
        codebookPath(d, "semdedup_stored_centroids"),
        seedIds = 0L until 8L, iters = 2, dim = 64)
      graft.ops.SemDedup.semDedup(emb, arr, dim = 64, tau = 0.35)
        .orderBy(col("vec_id"))
    },
    semDedupOracleSql("semdedup_stored_centroids"))

  private def semDedupOracleSql(centName: String): String =
    s"""WITH cents AS (SELECT cell, c
       |    FROM read_parquet('/root/repo/artifacts/${centName}_${SF}/*.parquet')),
       |v AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
       |celld AS (SELECT t.id, c.cell,
       |    list_sum(list_transform(range(1, 65), i ->
       |      (CAST(t.v[i] AS DOUBLE) - c.c[i]) * (CAST(t.v[i] AS DOUBLE) - c.c[i]))) AS cd
       |  FROM v t CROSS JOIN cents c),
       |asg AS (SELECT id, cell FROM (
       |    SELECT id, cell, row_number() OVER (PARTITION BY id
       |      ORDER BY cd ASC, cell ASC) AS rn FROM celld) WHERE rn = 1),
       |e AS (SELECT a.cell, a.id, t.v, sqrt(${dotSql("t.v", "t.v")}) AS nrm
       |  FROM asg a JOIN v t ON t.id = a.id),
       |drops AS (SELECT DISTINCT b.id FROM e a JOIN e b
       |  ON a.cell = b.cell AND a.id < b.id
       |  WHERE round(CASE WHEN a.nrm * b.nrm > 0.0
       |    THEN ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm)
       |    ELSE 0.0 END, 6) >= 0.35)
       |SELECT a.id AS vec_id, a.cell FROM asg a
       |LEFT JOIN drops d ON a.id = d.id WHERE d.id IS NULL
       |ORDER BY vec_id""".stripMargin

  /** Cross-corpus SEMANTIC decontamination: corpus vectors (vec_id ≥ 20)
    * at cosine ≥ 0.35 from any probe/benchmark vector (vec_id < 20) —
    * paraphrased leakage that n-gram screens miss. Corpus side is ONE
    * map-only `NearestCell` pass; the probe side multi-probes its 2
    * nearest cells and broadcasts, so boundary pairs are caught without
    * shuffling the corpus. The oracle replays cell assignment (same
    * left-to-right L2 fold), multi-probe ranking, and the exact cosine
    * refine. */
  val qSemDecontam: Q = "q_sem_decontam" -> (
    (s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
      val cents = graft.ops.Pq.centroidArray(
        emb.filter(col("vec_id") < 8)
          .select(col("vec_id").cast("long").as("c_id"),
            expr("transform(embedding, x -> cast(x as double))").as("c_v")),
        dim = 64)
      graft.ops.SemDedup.crossSemContaminated(
          emb.filter(col("vec_id") >= 20), emb.filter(col("vec_id") < 20),
          cents, dim = 64, tau = 0.35, nProbe = 2)
        .orderBy(col("vec_id"))
    },
    s"""WITH cents AS (SELECT CAST(vec_id AS INT) AS cell,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
       |  FROM embeddings WHERE vec_id < 8),
       |v AS (SELECT vec_id AS id, embedding AS v,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm FROM embeddings),
       |celld AS (SELECT t.id, c.cell,
       |    list_sum(list_transform(range(1, 65), i ->
       |      (CAST(t.v[i] AS DOUBLE) - c.c[i]) * (CAST(t.v[i] AS DOUBLE) - c.c[i]))) AS cd
       |  FROM v t CROSS JOIN cents c),
       |corpus AS (SELECT id, cell FROM (
       |    SELECT id, cell, row_number() OVER (PARTITION BY id
       |      ORDER BY cd ASC, cell ASC) AS rn FROM celld WHERE id >= 20)
       |  WHERE rn = 1),
       |probes AS (SELECT id AS p_id, cell FROM (
       |    SELECT id, cell, row_number() OVER (PARTITION BY id
       |      ORDER BY cd ASC, cell ASC) AS rn FROM celld WHERE id < 20)
       |  WHERE rn <= 2),
       |pairs AS (SELECT c.id AS n_id, p.p_id,
       |    round(CASE WHEN a.nrm * b.nrm > 0.0
       |      THEN ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm)
       |      ELSE 0.0 END, 6) AS cos
       |  FROM corpus c JOIN probes p USING (cell)
       |  JOIN v a ON a.id = c.id JOIN v b ON b.id = p.p_id)
       |SELECT n_id AS vec_id, count(*) AS n_hits, max(cos) AS max_cos
       |FROM pairs WHERE cos >= 0.35 GROUP BY 1 ORDER BY vec_id""".stripMargin)

  /** Semantic dedup, DIVERSITY-PRESERVING keep rule (the SemDeDup
    * paper's choice): of every near pair keep the member FARTHEST from
    * its cell centroid — edge examples over cluster cores. Oracled like
    * q_semdedup plus the centroid-distance lookup (the same
    * left-to-right L2 fold both engines already replay). */
  val qSemDedupDiv: Q = "q_semdedup_div" -> (
    (s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
      // train-once (q_semdedup keeps Lloyd's visible per-rep; this one
      // measures the diversity-keep pruning itself)
      val arr = graft.ops.SemDedup.centroidsStored(emb,
        codebookPath(d, "semdiv_centroids"),
        seedIds = 0L until 8L, iters = 2, dim = 64)
      graft.ops.SemDedup.semDedupDiverse(emb, arr, dim = 64, tau = 0.35)
        .withColumn("d2", round(col("d2"), 6))
        .orderBy(col("vec_id"))
    },
    s"""WITH cents AS (SELECT cell, c
       |    FROM read_parquet('/root/repo/artifacts/semdiv_centroids_${SF}/*.parquet')),
       |v AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
       |celld AS (SELECT t.id, c.cell,
       |    list_sum(list_transform(range(1, 65), i ->
       |      (CAST(t.v[i] AS DOUBLE) - c.c[i]) * (CAST(t.v[i] AS DOUBLE) - c.c[i]))) AS cd
       |  FROM v t CROSS JOIN cents c),
       |asg AS (SELECT id, cell, cd AS d2 FROM (
       |    SELECT id, cell, cd, row_number() OVER (PARTITION BY id
       |      ORDER BY cd ASC, cell ASC) AS rn FROM celld) WHERE rn = 1),
       |e AS (SELECT a.cell, a.id, a.d2, t.v, sqrt(${dotSql("t.v", "t.v")}) AS nrm
       |  FROM asg a JOIN v t ON t.id = a.id),
       |pairs AS (SELECT a.id AS id_a, b.id AS id_b, a.d2 AS d2_a, b.d2 AS d2_b,
       |    round(CASE WHEN a.nrm * b.nrm > 0.0
       |      THEN ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm)
       |      ELSE 0.0 END, 6) AS cos
       |  FROM e a JOIN e b ON a.cell = b.cell AND a.id < b.id),
       |drops AS (SELECT DISTINCT CASE
       |    WHEN d2_a < d2_b OR (d2_a = d2_b AND id_a > id_b) THEN id_a
       |    ELSE id_b END AS id
       |  FROM pairs WHERE cos >= 0.35)
       |SELECT a.id AS vec_id, a.cell, round(a.d2, 6) AS d2 FROM asg a
       |LEFT JOIN drops d ON a.id = d.id WHERE d.id IS NULL
       |ORDER BY vec_id""".stripMargin)

  /** Inactivity-gap sessionization (gaps-and-islands): a new session
    * starts after >6h of silence per user. One window pass per user
    * (lag → boundary flag → running session index) then a per-session
    * aggregate — the batch shape of `session_window` (whose merge
    * semantics `WatermarkSpec` covers for streaming); exact-integer µs
    * arithmetic end to end. */
  val qSessions: Q = "q_sessions" -> (
    (s: SparkSession, d: String) => {
      val gapUs = 6L * 3600 * 1000000
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts_us"))
        .withColumn("new_s",
          when(col("ts_us") - lag(col("ts_us"), 1).over(w) <= gapUs, 0L)
            .otherwise(1L))
        .withColumn("session_idx", sum(col("new_s")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts_us")).as("start_us"),
          max(col("ts_us")).as("end_us"))
        .withColumn("duration_us", col("end_us") - col("start_us"))
        .orderBy(col("user_id"), col("session_idx"))
    },
    s"""WITH $EV,
       |b AS (SELECT user_id, event_id, ts_us,
       |    CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id
       |      ORDER BY ts_us, event_id) <= ${6L * 3600 * 1000000}
       |      THEN 0 ELSE 1 END AS new_s
       |  FROM ev),
       |si AS (SELECT user_id, ts_us,
       |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
       |  FROM b)
       |SELECT user_id, session_idx, count(*) AS n_events,
       |  min(ts_us) AS start_us, max(ts_us) AS end_us,
       |  max(ts_us) - min(ts_us) AS duration_us
       |FROM si GROUP BY user_id, session_idx
       |ORDER BY user_id, session_idx""".stripMargin)

  /** Weekly COHORT retention — the classic event-analytics matrix:
    * users bucketed by first-seen week (integer week = ts_us DIV 7d —
    * no calendar/timezone dependence), activity counted per (cohort,
    * weeks-since) cell. Two hash aggregations + one cohort-count join;
    * at 100 TB the matrix itself is weeks² rows — driver-trivial
    * output from corpus-scale input. */
  val qCohort: Q = "q_cohort" -> (
    (s: SparkSession, d: String) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), expr("ts_us DIV 604800000000").as("wk"))
        .distinct()
      val first = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      val sizes = first.groupBy(col("cohort_wk"))
        .agg(count(lit(1)).as("cohort_n"))
      ev.join(first, "user_id")
        .select(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"),
          col("user_id"))
        .groupBy(col("cohort_wk"), col("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .join(sizes, "cohort_wk")
        .select(col("cohort_wk"), col("week_offset"), col("n_active"),
          round(col("n_active") / col("cohort_n").cast("double"), 6)
            .as("retention"))
        .orderBy(col("cohort_wk"), col("week_offset"))
    },
    s"""WITH $EV,
       |uw AS (SELECT DISTINCT user_id, ts_us // 604800000000 AS wk FROM ev),
       |f AS (SELECT user_id, min(wk) AS cohort_wk FROM uw GROUP BY 1),
       |sz AS (SELECT cohort_wk, count(*) AS cohort_n FROM f GROUP BY 1),
       |m AS (SELECT f.cohort_wk, u.wk - f.cohort_wk AS week_offset,
       |    count(DISTINCT u.user_id) AS n_active
       |  FROM uw u JOIN f USING (user_id) GROUP BY 1, 2)
       |SELECT m.cohort_wk, m.week_offset, CAST(m.n_active AS BIGINT) AS n_active,
       |  round(m.n_active / CAST(sz.cohort_n AS DOUBLE), 6) AS retention
       |FROM m JOIN sz USING (cohort_wk)
       |ORDER BY cohort_wk, week_offset""".stripMargin)

  /** Ordered FUNNEL: signup → view → click → purchase, each step's
    * earliest completion strictly AFTER the previous step's — per-user
    * chained min-aggregations (each stage a semi-join against the
    * shrinking prior stage; never a per-user event sort). Output is
    * the 4-row funnel with conversion vs stage 1. */
  /** Shared funnel scaffold of q_funnel_steps / q_funnel_windowed:
    * chained shrinking min-aggregations carrying the stage-1 anchor
    * (`t0`), with an optional per-stage conversion deadline, and
    * ZERO-FILLED stage rows — an empty stage must still produce its
    * row (the oracle's `count(*) FROM s4` over an empty CTE does), or
    * the first corpus where nobody converts row-mismatches. */
  private def funnelCounts(s: SparkSession, ev: DataFrame,
                           steps: Seq[String],
                           windowUs: Option[Long]): DataFrame = {
    import s.implicits._
    val stages = steps.zipWithIndex.scanLeft(Option.empty[DataFrame]) {
      case (prev, (step, _)) =>
        val base = ev.filter(col("event_type") === step)
        val eligible = prev match {
          case None => base.withColumn("t0", col("ts_us"))
          case Some(p) =>
            val joined = base.join(p.select(col("user_id"),
                col("t").as("prev_t"), col("t0")), "user_id")
              .filter(col("ts_us") > col("prev_t"))
            windowUs.fold(joined)(wu =>
              joined.filter(col("ts_us") <= col("t0") + wu))
        }
        Some(eligible.groupBy(col("user_id"))
          .agg(min(struct(col("ts_us"), col("t0"))).as("m"))
          .select(col("user_id"), col("m.ts_us").as("t"),
            col("m.t0").as("t0")))
    }.flatten
    val stageFrame = steps.zipWithIndex
      .map { case (st, i) => (i + 1L, st) }.toDF("stage", "step")
    val tagged = stages.zip(steps).zipWithIndex.map {
      case ((df, step), i) => df.select(lit(i + 1L).as("stage"),
        lit(step).as("step"), col("user_id"))
    }.reduce(_ unionAll _)
    val counts = tagged.groupBy(col("stage"), col("step"))
      .agg(countDistinct(col("user_id")).as("n_users"))
    stageFrame.join(counts, Seq("stage", "step"), "left")
      .select(col("stage"), col("step"),
        coalesce(col("n_users"), lit(0L)).as("n_users"))
  }

  val qFunnelSteps: Q = "q_funnel_steps" -> (
    (s: SparkSession, d: String) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts_us"))
      val counts = funnelCounts(s, ev,
        Seq("signup", "view", "click", "purchase"), windowUs = None)
      val base = counts.filter(col("stage") === 1L)
        .select(col("n_users").as("n1"))
      // n1 = 0 guard on BOTH sides: Spark's Divide yields NULL on 0/0
      // while DuckDB's double division follows IEEE (inf/nan), so an
      // unguarded ratio row-mismatches on exactly the empty-funnel
      // corpus the zero-filled stage rows exist for
      counts.crossJoin(base)
        .select(col("stage"), col("step"), col("n_users"),
          round(when(col("n1") > 0L,
              col("n_users") / col("n1").cast("double"))
            .otherwise(lit(0.0)), 6).as("conversion"))
        .orderBy(col("stage"))
    },
    s"""WITH $EV,
       |s1 AS (SELECT user_id, min(ts_us) AS t FROM ev
       |  WHERE event_type = 'signup' GROUP BY 1),
       |s2 AS (SELECT e.user_id, min(e.ts_us) AS t FROM ev e
       |  JOIN s1 ON s1.user_id = e.user_id
       |  WHERE e.event_type = 'view' AND e.ts_us > s1.t GROUP BY 1),
       |s3 AS (SELECT e.user_id, min(e.ts_us) AS t FROM ev e
       |  JOIN s2 ON s2.user_id = e.user_id
       |  WHERE e.event_type = 'click' AND e.ts_us > s2.t GROUP BY 1),
       |s4 AS (SELECT e.user_id, min(e.ts_us) AS t FROM ev e
       |  JOIN s3 ON s3.user_id = e.user_id
       |  WHERE e.event_type = 'purchase' AND e.ts_us > s3.t GROUP BY 1),
       |n AS (SELECT 1 AS stage, 'signup' AS step, count(*) AS n_users FROM s1
       |  UNION ALL SELECT 2, 'view', count(*) FROM s2
       |  UNION ALL SELECT 3, 'click', count(*) FROM s3
       |  UNION ALL SELECT 4, 'purchase', count(*) FROM s4),
       |b AS (SELECT n_users AS n1 FROM n WHERE stage = 1)
       |SELECT CAST(stage AS BIGINT) AS stage, step,
       |  CAST(n_users AS BIGINT) AS n_users,
       |  round(CASE WHEN b.n1 > 0 THEN n_users / CAST(b.n1 AS DOUBLE)
       |    ELSE 0.0 END, 6) AS conversion
       |FROM n, b ORDER BY stage""".stripMargin)

  /** Time-grid RESAMPLE with zero-fill: each user's event counts on a
    * regular 6-hour grid spanning their own first..last activity —
    * gap-filling for downstream time-series models. The grid explode
    * is per-user bounded (span/bucket rows); counts ride one hash
    * aggregation; the join back is grid ⋈ counts on (user, bucket). */
  val qResample: Q = "q_resample" -> (
    (s: SparkSession, d: String) => {
      val bucketUs = 21600000000L
      val ev = Tables.events(s, d)
        .select(col("user_id"), expr(s"ts_us DIV $bucketUs").as("b"))
      val counts = ev.groupBy(col("user_id"), col("b"))
        .agg(count(lit(1)).as("n_events"))
      val grid = counts.groupBy(col("user_id"))
        .agg(min(col("b")).as("b0"), max(col("b")).as("b1"))
        .select(col("user_id"), explode(sequence(col("b0"), col("b1"))).as("b"))
      grid.join(counts, Seq("user_id", "b"), "left")
        .select(col("user_id"), col("b").as("bucket"),
          coalesce(col("n_events"), lit(0L)).as("n_events"))
        .orderBy(col("user_id"), col("bucket"))
    },
    s"""WITH $EV,
       |c AS (SELECT user_id, ts_us // 21600000000 AS b, count(*) AS n
       |  FROM ev GROUP BY 1, 2),
       |sp AS (SELECT user_id, min(b) AS b0, max(b) AS b1 FROM c GROUP BY 1),
       |g AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS b FROM sp)
       |SELECT g.user_id, g.b AS bucket,
       |  CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events
       |FROM g LEFT JOIN c ON c.user_id = g.user_id AND c.b = g.b
       |ORDER BY g.user_id, bucket""".stripMargin)

  /** Per-user rate limiting — deterministic burst throttling: within
    * each (user, day) bucket only the first `cap` events by (ts,
    * event_id) are admitted; the rest are flagged with their overflow
    * rank. One window rank per (user, day) partition (bounded by the
    * bucket's arrival volume); the admission decision is row-local
    * after it. The bot-burst / crawler-throttle gate every ingestion
    * pipeline ends up needing. */
  val qRateLimit: Q = "q_rate_limit" -> (
    (s: SparkSession, d: String) => {
      val cap = 3
      val dayUs = 86400000000L
      val w = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          expr(s"ts_us DIV $dayUs").as("day"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .select(col("event_id"), col("user_id"), col("day"), col("rk"))
        .filter(col("rk") > cap)
        .orderBy(col("event_id"))
    },
    s"""WITH $EV,
       |r AS (SELECT event_id, user_id, ts_us // 86400000000 AS day,
       |    CAST(row_number() OVER (PARTITION BY user_id, ts_us // 86400000000
       |      ORDER BY ts_us, event_id) AS BIGINT) AS rk
       |  FROM ev)
       |SELECT event_id, user_id, day, rk
       |FROM r WHERE rk > 3 ORDER BY event_id""".stripMargin)

  /** Windowed funnel — q_funnel_steps with a CONVERSION WINDOW: every
    * later step must land within `windowUs` of the user's STAGE-1 time
    * (the "converted within 7 days of signup" product question). Same
    * chained shrinking min-aggregations; the deadline rides each
    * stage's filter. */
  val qFunnelWindowed: Q = "q_funnel_windowed" -> (
    (s: SparkSession, d: String) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts_us"))
      funnelCounts(s, ev, Seq("signup", "view", "click", "purchase"),
          windowUs = Some(7L * 86400000000L))
        .orderBy(col("stage"))
    },
    s"""WITH $EV,
       |s1 AS (SELECT user_id, min(ts_us) AS t, min(ts_us) AS t0 FROM ev
       |  WHERE event_type = 'signup' GROUP BY 1),
       |s2 AS (SELECT user_id, t, t0 FROM (
       |  SELECT e.user_id, e.ts_us AS t, s1.t0,
       |      row_number() OVER (PARTITION BY e.user_id
       |        ORDER BY e.ts_us, s1.t0) AS rn
       |    FROM ev e JOIN s1 ON s1.user_id = e.user_id
       |    WHERE e.event_type = 'view' AND e.ts_us > s1.t
       |      AND e.ts_us <= s1.t0 + ${7L * 86400000000L})
       |  WHERE rn = 1),
       |s3 AS (SELECT user_id, t, t0 FROM (
       |  SELECT e.user_id, e.ts_us AS t, s2.t0,
       |      row_number() OVER (PARTITION BY e.user_id
       |        ORDER BY e.ts_us, s2.t0) AS rn
       |    FROM ev e JOIN s2 ON s2.user_id = e.user_id
       |    WHERE e.event_type = 'click' AND e.ts_us > s2.t
       |      AND e.ts_us <= s2.t0 + ${7L * 86400000000L})
       |  WHERE rn = 1),
       |s4 AS (SELECT user_id, t, t0 FROM (
       |  SELECT e.user_id, e.ts_us AS t, s3.t0,
       |      row_number() OVER (PARTITION BY e.user_id
       |        ORDER BY e.ts_us, s3.t0) AS rn
       |    FROM ev e JOIN s3 ON s3.user_id = e.user_id
       |    WHERE e.event_type = 'purchase' AND e.ts_us > s3.t
       |      AND e.ts_us <= s3.t0 + ${7L * 86400000000L})
       |  WHERE rn = 1)
       |SELECT * FROM (
       |  SELECT 1 AS stage, 'signup' AS step, CAST(count(*) AS BIGINT) AS n_users FROM s1
       |  UNION ALL SELECT 2, 'view', count(*) FROM s2
       |  UNION ALL SELECT 3, 'click', count(*) FROM s3
       |  UNION ALL SELECT 4, 'purchase', count(*) FROM s4)
       |ORDER BY stage""".stripMargin)

  /** Expanding-window z-score anomalies: each event's `value` scored
    * against the user's OWN history (all strictly-earlier events — a
    * cumulative frame, deliberately not sliding: both engines
    * accumulate fixed-start frames sequentially in frame order, so the
    * double chains match bit-for-bit, while sliding frames may go
    * through a segment tree whose association order differs). Flags
    * |z| > 3 once the baseline has ≥ 8 observations. The per-user
    * window is the sessionize exchange; everything after is map-only. */
  val qRollingZ: Q = "q_rolling_z" -> (
    (s: SparkSession, d: String) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
        .withColumn("n", count(col("value")).over(w))
        .withColumn("sm", sum(col("value")).over(w))
        .withColumn("s2", sum(col("value") * col("value")).over(w))
        .filter(col("n") >= 8)
        .withColumn("mean", col("sm") / col("n"))
        .withColumn("vr", col("s2") / col("n") - col("mean") * col("mean"))
        .filter(col("vr") > 1e-12)
        .withColumn("z", (col("value") - col("mean")) / sqrt(col("vr")))
        .filter(abs(col("z")) > 3.0)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          round(col("z"), 6).as("z"))
        .orderBy(col("event_id"))
    },
    s"""WITH $EV,
       |b AS (SELECT event_id, user_id, ts_us, value,
       |    count(value) OVER w AS n,
       |    sum(value) OVER w AS sm,
       |    sum(value * value) OVER w AS s2
       |  FROM ev
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       |m AS (SELECT event_id, user_id, ts_us, value, n,
       |    sm / n AS mean, s2 / n - (sm / n) * (sm / n) AS vr
       |  FROM b WHERE n >= 8),
       |z AS (SELECT event_id, user_id, ts_us,
       |    (value - mean) / sqrt(vr) AS z
       |  FROM m WHERE vr > 1e-12)
       |SELECT event_id, user_id, ts_us, round(z, 6) AS z
       |FROM z WHERE abs(z) > 3.0 ORDER BY event_id""".stripMargin)

  /** Misra-Gries heavy hitters — the fixed-size mergeable path for
    * "top-k most frequent" (native TypedImperativeAggregate; O(capacity)
    * state per group crosses the exchange, map-side combined). Unlike
    * the HLL/PQ sketches this one IS oracle-checkable: capacity 2048
    * exceeds the distinct-user count of every event_type group, so the
    * summary's exact-regime contract makes every reported count the
    * exact frequency — the DuckDB mirror is a plain grouped count. */
  val qHeavyHitters: Q = "q_heavy_hitters" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Frequency.heavyHitters(Tables.events(s, d),
          Seq("event_type"), "user_id", capacity = 2048, k = 10)
        .orderBy(col("event_type"), col("rank")),
    """SELECT event_type, item, cnt, rank FROM (
      |  SELECT event_type, CAST(user_id AS VARCHAR) AS item,
      |    count(*) AS cnt,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY count(*) DESC, CAST(user_id AS VARCHAR)) AS rank
      |  FROM events GROUP BY event_type, user_id)
      |WHERE rank <= 10 ORDER BY event_type, rank""".stripMargin)

  /** Daily trending users per event type: the windowed composition of
    * the MG summary (integer day bucket = ts_us DIV 86400e6 — no
    * calendar/timezone dependence). Still exact-regime (≤150 distinct
    * users per cell at sf0.01), so fully oracled. */
  val qTrending: Q = "q_trending" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Frequency.heavyHitters(
          Tables.events(s, d)
            .withColumn("day_idx", expr("ts_us DIV 86400000000")),
          Seq("event_type", "day_idx"), "user_id", capacity = 2048, k = 3)
        .orderBy(col("event_type"), col("day_idx"), col("rank")),
    s"""WITH $EV,
       |g AS (SELECT event_type, ts_us // 86400000000 AS day_idx,
       |    CAST(user_id AS VARCHAR) AS item, count(*) AS cnt,
       |    row_number() OVER (PARTITION BY event_type, ts_us // 86400000000
       |      ORDER BY count(*) DESC, CAST(user_id AS VARCHAR)) AS rank
       |  FROM ev GROUP BY event_type, ts_us // 86400000000, user_id)
       |SELECT event_type, day_idx, item, cnt, rank FROM g
       |WHERE rank <= 3 ORDER BY event_type, day_idx, rank""".stripMargin)

  /** HLL++ approximate distinct — the 100 TB path for q_count_distinct
    * (fixed-size mergeable sketch per group vs exact two-phase shuffle).
    * The sketch VALUE has no cross-engine mirror (the engines' HLL
    * variants differ by construction), so the oracle pins the CONTRACT
    * instead: the exact count hash-matches, and `within_bound` asserts
    * |approx − exact| ≤ 5%·exact (2.5σ at rsd = 0.02) in Spark while the
    * DuckDB side emits the expected literal TRUE — a hard hash check
    * that fails the round if the sketch ever drifts out of bound. */
  val qApproxDistinct: Q = "q_approx_distinct" -> (
    (s: SparkSession, d: String) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("n_users_approx"),
          countDistinct(col("user_id")).as("n_users_exact"))
        .select(col("event_type"), col("n_users_exact"),
          (abs(col("n_users_approx") - col("n_users_exact"))
            <= lit(0.05) * col("n_users_exact")).as("within_bound"))
        .orderBy(col("event_type")),
    """SELECT event_type, count(DISTINCT user_id) AS n_users_exact,
      |  TRUE AS within_bound
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** Approximate median via the GK quantile sketch — the 100 TB path for
    * q_percentile (bounded-memory mergeable summary per group vs an
    * exact sort). Same contract shape as q_approx_distinct: the sketch
    * VALUE has no cross-engine mirror, so the oracle pins the exact
    * median (hash-matched, interpolation-identical to q_percentile) plus
    * `within_bound` — the approx median must land between the exact 0.49
    * and 0.51 quantiles (rank error 10× the sketch's guaranteed
    * 1/accuracy = 0.001) in Spark while DuckDB emits the expected
    * literal TRUE. Drift out of bound fails the round hard. */
  val qApproxQuantile: Q = "q_approx_quantile" -> (
    (s: SparkSession, d: String) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          percentile_approx(col("value"), lit(0.5), lit(1000)).as("approx"),
          expr("percentile(value, 0.49)").as("lo"),
          expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.51)").as("hi"))
        .select(col("event_type"), round(col("p50"), 6).as("p50_exact"),
          (col("approx") >= col("lo") && col("approx") <= col("hi"))
            .as("within_bound"))
        .orderBy(col("event_type")),
    """SELECT event_type, round(quantile_cont(value, 0.5), 6) AS p50_exact,
      |  TRUE AS within_bound
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** DuckDB mirror of Ann.idot: exact 64-bit integer dot over int8 codes. */
  private def int8DotSql(x: String, y: String): String =
    s"list_sum(list_transform(range(1, 65), i -> CAST($x[i] AS BIGINT) * CAST($y[i] AS BIGINT)))"

  /** sqrt of the integer self-dot, as the IEEE double both engines agree on. */
  private def int8NormSql(x: String): String =
    s"sqrt(CAST(${int8DotSql(x, x)} AS DOUBLE))"

  /** DuckDB mirror of Vectors.dot: identical left-to-right double fold. */
  private def dotSql(x: String, y: String): String =
    s"list_sum(list_transform(range(1, 65), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))"

  /** DuckDB mirror of Vectors.cosine. */
  private def cosSql(a: String, b: String): String = {
    val d = dotSql(a, b); val na = dotSql(a, a); val nb = dotSql(b, b)
    s"(CASE WHEN sqrt($na) * sqrt($nb) > 0 THEN $d / (sqrt($na) * sqrt($nb)) ELSE 0.0 END)"
  }

  // --------------------------------------- sampling / corpus composition

  /** DuckDB mirror of Sampling.hashUnit: md5-derived unit in [0, 1e6). */
  private def hashUnitSql(keyExpr: String, seed: Int): String =
    s"CAST('0x' || substr(md5('$seed' || CAST($keyExpr AS VARCHAR)), 1, 15) AS BIGINT) % 1000000"

  /** Deterministic Bernoulli sampling (map-only hash filter — the only
    * sampling shape that reproduces at 100 TB). */
  val qSampleHash: Q = "q_sample_hash" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Sampling.bernoulli(Tables.documents(s, d), 0.25, "doc_id", seed = 7)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id")),
    s"""SELECT doc_id, lang FROM documents
       |WHERE ${hashUnitSql("doc_id", 7)} < 250000
       |ORDER BY doc_id""".stripMargin)

  /** Deterministic k-per-stratum sample (hash-order reservoir, two-phase
    * per-partition prune before the per-stratum window). */
  val qStratified: Q = "q_stratified" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Sampling.stratifiedK(Tables.documents(s, d), Seq("lang"), 10,
        "doc_id", seed = 7)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("lang"), col("doc_id")),
    s"""SELECT doc_id, lang FROM (
       |  SELECT doc_id, lang, row_number() OVER (
       |    PARTITION BY lang ORDER BY ${hashUnitSql("doc_id", 7)}, doc_id) AS rn
       |  FROM documents)
       |WHERE rn <= 10 ORDER BY lang, doc_id""".stripMargin)

  /** Weighted sample without replacement (sequential Poisson order
    * sampling, priority = hash unit / weight — one IEEE division of
    * exact operands, bit-identical cross-engine; here weight = document
    * length, so longer documents are proportionally likelier). */
  val qWeightedSample: Q = "q_weighted_sample" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Sampling.weightedK(
          Tables.documents(s, d).withColumn("wt", length(col("text"))),
          k = 50, keyCol = "doc_id", weightCol = "wt", seed = 7)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id")),
    s"""SELECT doc_id, lang FROM (
       |  SELECT doc_id, lang,
       |    CAST(${hashUnitSql("doc_id", 7)} AS DOUBLE) / length(text) AS pri
       |  FROM documents WHERE length(text) > 0
       |  ORDER BY pri, doc_id LIMIT 50)
       |ORDER BY doc_id""".stripMargin)

  /** Weighted corpus mixing: per-language rates with upsampling by
    * duplication (expected multiplicity = weight, decided row-locally
    * from the hash unit; broadcast weights, no corpus shuffle). */
  val qMixWeighted: Q = "q_mix_weighted" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Sampling.weightedMix(Tables.documents(s, d), "lang",
        Map("de" -> 2.25, "en" -> 0.5, "es" -> 0.25, "fr" -> 1.0, "zh" -> 3.0),
        "doc_id", seed = 7)
        .select(col("doc_id"), col("lang"), col("copy"))
        .orderBy(col("doc_id"), col("copy")),
    s"""WITH w(lang, whole, frac_thr) AS (VALUES
       |    ('de', 2, 250000), ('en', 0, 500000), ('es', 0, 250000),
       |    ('fr', 1, 0), ('zh', 3, 0)),
       |c AS (SELECT doc_id, d.lang,
       |    whole + CASE WHEN ${hashUnitSql("doc_id", 7)} < frac_thr THEN 1 ELSE 0 END AS copies
       |  FROM documents d JOIN w ON d.lang = w.lang)
       |SELECT doc_id, lang, unnest(range(copies)) AS copy
       |FROM c WHERE copies > 0 ORDER BY doc_id, copy""".stripMargin)

  /** Temperature-balanced mixing (α = 0.5): group share ∝ sqrt(n_g) —
    * the multilingual-LM source-balancing recipe. Rates derive from the
    * per-group counts with IEEE-exact sqrt and a group-ascending fold,
    * so the oracle recomputes them bit-for-bit; the corpus-side work is
    * the same map-only hash-threshold copies projection as
    * q_mix_weighted. */
  val qTemperatureMix: Q = "q_temperature_mix" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Sampling.temperatureMix(Tables.documents(s, d), "lang",
        alpha = 0.5, totalFraction = 0.5, keyCol = "doc_id", seed = 11)
        .select(col("doc_id"), col("lang"), col("copy"))
        .orderBy(col("doc_id"), col("copy")),
    s"""WITH n AS (SELECT lang, count(*) AS ng FROM documents GROUP BY 1),
       |s AS (SELECT list_sum(list(sqrt(CAST(ng AS DOUBLE)) ORDER BY lang)) AS sw,
       |    CAST(sum(ng) AS DOUBLE) AS ntot FROM n),
       |w AS (SELECT lang, ng,
       |    (0.5 * ntot * (sqrt(CAST(ng AS DOUBLE)) / sw)) / CAST(ng AS DOUBLE) AS rate
       |  FROM n CROSS JOIN s),
       |t AS (SELECT lang, CAST(floor(rate) AS BIGINT) AS whole,
       |    CAST(round((rate - floor(rate)) * 1000000, 0) AS BIGINT) AS frac_thr FROM w),
       |c AS (SELECT doc_id, d.lang,
       |    whole + CASE WHEN ${hashUnitSql("doc_id", 11)} < frac_thr THEN 1 ELSE 0 END AS copies
       |  FROM documents d JOIN t ON d.lang = t.lang)
       |SELECT doc_id, lang, unnest(range(copies)) AS copy
       |FROM c WHERE copies > 0 ORDER BY doc_id, copy""".stripMargin)

  /** Token-budget mixing: 50k-token budget split over language shards
    * at temperature α=0.5 on token MASS — per-doc epochs replayed
    * bit-for-bit (sqrt + group-asc fold, the q_temperature_mix
    * discipline over sum(tokens) instead of row counts). */
  val qBudgetMix: Q = "q_budget_mix" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Sampling.budgetMix(
          Tables.documents(s, d)
            .withColumn("n_tokens", Text.tokenCount(col("text")).cast("long")),
          "lang", "n_tokens", budgetTokens = 50000L, alpha = 0.5,
          keyCol = "doc_id", seed = 11)
        .select(col("doc_id"), col("lang"), col("copy"))
        .orderBy(col("doc_id"), col("copy")),
    s"""WITH n AS (SELECT lang, CAST(sum(len($TOKS)) AS BIGINT) AS tok
       |  FROM documents GROUP BY 1),
       |s AS (SELECT list_sum(list(sqrt(CAST(tok AS DOUBLE)) ORDER BY lang)) AS sw
       |  FROM n),
       |w AS (SELECT lang, tok,
       |    (CAST(50000 AS DOUBLE) * (sqrt(CAST(tok AS DOUBLE)) / sw)) / CAST(tok AS DOUBLE) AS rate
       |  FROM n CROSS JOIN s),
       |t AS (SELECT lang, CAST(floor(rate) AS BIGINT) AS whole,
       |    CAST(round((rate - floor(rate)) * 1000000, 0) AS BIGINT) AS frac_thr FROM w),
       |c AS (SELECT doc_id, d.lang,
       |    whole + CASE WHEN ${hashUnitSql("doc_id", 11)} < frac_thr THEN 1 ELSE 0 END AS copies
       |  FROM documents d JOIN t ON d.lang = t.lang)
       |SELECT doc_id, lang, unnest(range(copies)) AS copy
       |FROM c WHERE copies > 0 ORDER BY doc_id, copy""".stripMargin)

  /** Sequence packing: contiguous fill of 512-token training bins per
    * language shard (one window aggregation, exact integer math). */
  val qPackSeq: Q = "q_pack_seq" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          Text.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.ops.Pack.contiguous(docs, budget = 512L, shardCol = "lang",
        orderCol = "doc_id", tokensCol = "n_tokens")
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("bin"), col("offset_in_bin"))
        .orderBy(col("lang"), col("doc_id"))
    },
    s"""WITH t AS (SELECT doc_id, lang, CAST(len($TOKS) AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (SELECT doc_id, lang, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
       |  FROM t)
       |SELECT doc_id, lang, n_tokens,
       |  CAST(floor(cb / 512) AS BIGINT) AS bin, cb % 512 AS offset_in_bin
       |FROM c ORDER BY lang, doc_id""".stripMargin)

  /** Tf-idf top-3 terms per document (linear idf N/df: one IEEE division
    * of exact integers — bit-identical across engines, unlike ln). */
  val qTfidf: Q = "q_tfidf" -> (
    (s: SparkSession, d: String) =>
      graft.ops.TextStats.tfidfTopK(Tables.documents(s, d), 3)
        .withColumnRenamed("rank", "trank")
        .orderBy(col("id"), col("trank")),
    s"""WITH toks AS (SELECT doc_id AS id, unnest($TOKS) AS term FROM documents),
       |tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |n AS (SELECT count(*) AS n_docs FROM documents),
       |scored AS (SELECT id, term, tf, df,
       |    CAST(tf AS DOUBLE) * n_docs / df AS tfidf
       |  FROM tf JOIN dfq USING (term) CROSS JOIN n),
       |r AS (SELECT id, term, tf, df, tfidf, row_number() OVER (
       |    PARTITION BY id ORDER BY tfidf DESC, term ASC) AS trank FROM scored)
       |SELECT id, term, tf, df, tfidf, trank FROM r
       |WHERE trank <= 3 ORDER BY id, trank""".stripMargin)

  /** BM25 more-like-this retrieval ([[graft.ops.TextStats.bm25TopK]]):
    * top-3 lexical neighbors for five query documents over df-capped
    * postings — the word-overlap complement to q_hard_negatives'
    * embedding-space mining. The idf table (the only `ln` anywhere in
    * the pipeline) is computed once on the driver and shipped to BOTH
    * engines as data — exported parquet for the oracle, broadcast join
    * in the plan — so every in-engine float op is plain IEEE +,*,/
    * and the per-pair sum folds in term order on both sides. */
  val qBm25: Q = "q_bm25" -> (
    (s: SparkSession, d: String) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      // the synthetic corpus has a ~31-term vocabulary with df ≈ 0.8N
      // — a production-style absolute cap would drop every term, so
      // the cap is set to N here (disabled; it stays the scale lever,
      // see bm25TopK's doc) and the oracle adapts identically
      val n = docs.count()
      val idfPath = codebookPath(d, "bm25_idf")
      graft.ops.TextStats.bm25IdfRows(n, maxDf = n)
        .toDF("df", "idf").coalesce(1)
        .write.mode("overwrite").parquet(idfPath)
      graft.ops.TextStats.bm25TopK(docs,
          docs.filter(col("doc_id") < 5).select(col("doc_id")),
          k = 3, maxDf = n)
        .orderBy(col("q_id"), col("rank"))
    },
    s"""WITH toks AS (SELECT doc_id AS id, unnest($TOKS) AS term FROM documents),
       |tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |dl AS (SELECT id, sum(tf) AS dl FROM tf GROUP BY 1),
       |stats AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |dfq AS (SELECT term, count(*) AS df FROM tf
       |  GROUP BY 1 HAVING count(*) <= (SELECT count(*) FROM documents)),
       |idf AS (SELECT df, idf
       |  FROM read_parquet('/root/repo/artifacts/bm25_idf_${SF}/*.parquet')),
       |qt AS (SELECT id AS q_id, term FROM tf WHERE id < 5),
       |cand AS (SELECT q.q_id, t.id AS doc_id, t.term, t.tf, d.dl, i.idf
       |  FROM qt q JOIN dfq f USING (term) JOIN idf i USING (df)
       |  JOIN tf t ON t.term = q.term AND t.id <> q.q_id
       |  JOIN dl d ON d.id = t.id),
       |sc AS (SELECT q_id, doc_id, list_sum(list(
       |    idf * (CAST(tf AS DOUBLE) * 2.2) /
       |      (CAST(tf AS DOUBLE) + 1.2 *
       |        (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
       |    ORDER BY term)) AS score
       |  FROM cand CROSS JOIN stats GROUP BY 1, 2),
       |r AS (SELECT q_id, doc_id, round(score, 6) AS bm25, row_number()
       |    OVER (PARTITION BY q_id ORDER BY score DESC, doc_id ASC) AS rank
       |  FROM sc)
       |SELECT q_id, doc_id, bm25, CAST(rank AS BIGINT) AS rank FROM r
       |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin)

  /** BM25 with a BITING df cap — the production stop-list path q_bm25
    * cannot exercise (its synthetic 31-term vocabulary forces the cap
    * off). Each document is ENRICHED with two low-frequency group tags
    * (`grpa<id%97>`, `grpb<id%89>`, df ≈ N/97 and N/89) identically in
    * both engines; the cap is N/8, so every base-vocabulary term
    * (df ≈ 0.8N) is DROPPED from the postings and scoring runs on the
    * rare tags alone. This pins the mechanism that makes bm25TopK
    * survive a real corpus: candidates bounded by |query terms| × cap,
    * stop-terms never join. Same driver-computed idf side-table
    * discipline as q_bm25 (no in-engine `ln`). */
  val qBm25Capped: Q = "q_bm25_capped" -> (
    (s: SparkSession, d: String) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val enriched = docs.select(col("doc_id"),
        concat(col("text"),
          lit(" grpa"), (col("doc_id") % 97).cast("string"),
          lit(" grpb"), (col("doc_id") % 89).cast("string")).as("text"))
      val n = docs.count()
      val cap = math.max(1L, n / 8)
      graft.ops.TextStats.bm25IdfRows(n, maxDf = cap)
        .toDF("df", "idf").coalesce(1)
        .write.mode("overwrite").parquet(codebookPath(d, "bm25_idf_cap"))
      graft.ops.TextStats.bm25TopK(enriched,
          enriched.filter(col("doc_id") < 5).select(col("doc_id")),
          k = 3, maxDf = cap)
        .orderBy(col("q_id"), col("rank"))
    },
    s"""WITH docs AS (SELECT doc_id, text || ' grpa' ||
       |    CAST(doc_id % 97 AS VARCHAR) || ' grpb' ||
       |    CAST(doc_id % 89 AS VARCHAR) AS text FROM documents),
       |cap AS (SELECT count(*) // 8 AS cap FROM documents),
       |toks AS (SELECT doc_id AS id, unnest($TOKS) AS term FROM docs),
       |tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |dl AS (SELECT id, sum(tf) AS dl FROM tf GROUP BY 1),
       |stats AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |dfq AS (SELECT term, count(*) AS df FROM tf
       |  GROUP BY 1 HAVING count(*) <= (SELECT cap FROM cap)),
       |idf AS (SELECT df, idf
       |  FROM read_parquet('/root/repo/artifacts/bm25_idf_cap_${SF}/*.parquet')),
       |qt AS (SELECT id AS q_id, term FROM tf WHERE id < 5),
       |cand AS (SELECT q.q_id, t.id AS doc_id, t.term, t.tf, d.dl, i.idf
       |  FROM qt q JOIN dfq f USING (term) JOIN idf i USING (df)
       |  JOIN tf t ON t.term = q.term AND t.id <> q.q_id
       |  JOIN dl d ON d.id = t.id),
       |sc AS (SELECT q_id, doc_id, list_sum(list(
       |    idf * (CAST(tf AS DOUBLE) * 2.2) /
       |      (CAST(tf AS DOUBLE) + 1.2 *
       |        (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
       |    ORDER BY term)) AS score
       |  FROM cand CROSS JOIN stats GROUP BY 1, 2),
       |r AS (SELECT q_id, doc_id, round(score, 6) AS bm25, row_number()
       |    OVER (PARTITION BY q_id ORDER BY score DESC, doc_id ASC) AS rank
       |  FROM sc)
       |SELECT q_id, doc_id, bm25, CAST(rank AS BIGINT) AS rank FROM r
       |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin)

  /** PII scrub ([[graft.ops.Redact.scrub]]): redacted text + per-kind
    * match counts, map-only codegen'd regexes, no shuffle. The
    * synthetic corpus carries no PII, so the query ENRICHES each doc
    * with deterministic synthetic identifiers — an email, a phone,
    * an IPv4 derived from doc_id — identically in the Spark plan and
    * the oracle SQL; the hash compare then certifies the full
    * redacted STRING byte-for-byte, i.e. that both engines' regex
    * subsets agree exactly on these patterns (the Redact portability
    * contract). */
  val qPiiScrub: Q = "q_pii_scrub" -> (
    (s: SparkSession, d: String) => {
      val enriched = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com via 10.0."),
          pmod(col("doc_id"), lit(256)), lit(".7 or +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
          .as("text"))
      graft.ops.Redact.scrub(enriched).orderBy(col("doc_id"))
    },
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(t, '\+\d{1,2}-\d{3}-\d{4}')) AS BIGINT) AS n_phones,
      |  CAST(len(regexp_extract_all(t, '\b\d{1,3}(\.\d{1,3}){3}\b')) AS BIGINT) AS n_ips,
      |  regexp_replace(
      |    regexp_replace(
      |      regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      |      '\+\d{1,2}-\d{3}-\d{4}', '[PHONE]', 'g'),
      |    '\b\d{1,3}(\.\d{1,3}){3}\b', '[IP]', 'g') AS redacted
      |FROM (SELECT doc_id, text || ' contact user' || doc_id
      |    || '@example.com via 10.0.' || (doc_id % 256) || '.7 or +1-555-'
      |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin)

  /** Unigram lexical likelihood (the CCNet-style LM quality filter,
    * ln-free): train = one explode+agg pass, model = top-500 tokens'
    * exact c/N probabilities as ONE `typedlit` map constant, score =
    * map-only fold in document order (no join, no shuffle). Mean token
    * probability ranks docs the way unigram perplexity would (monotone
    * per-token transform) while staying bit-identical across engines;
    * oov_frac is the gibberish signal. */
  val qUnigramQuality: Q = "q_unigram_quality" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val (vocab, _) = graft.ops.TextStats.unigramModel(docs, vocabSize = 500)
      graft.ops.TextStats.unigramScores(docs, vocab).orderBy(col("id"))
    },
    s"""WITH flat AS (SELECT doc_id AS id, unnest($TOKS) AS term,
       |    generate_subscripts($TOKS, 1) AS pos FROM documents),
       |counts AS (SELECT term, count(*) AS c FROM flat GROUP BY 1),
       |n AS (SELECT CAST(sum(c) AS DOUBLE) AS n_total FROM counts),
       |vocab AS (SELECT term, CAST(c AS DOUBLE) / n_total AS p
       |  FROM counts CROSS JOIN n ORDER BY c DESC, term ASC LIMIT 500),
       |pt AS (SELECT f.id, f.pos, COALESCE(v.p, 0.0) AS p,
       |    CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
       |  FROM flat f LEFT JOIN vocab v USING (term)),
       |agg AS (SELECT id, count(*) AS n_toks, sum(oov) AS n_oov,
       |    list_sum(list(p ORDER BY pos)) AS sp FROM pt GROUP BY id)
       |SELECT id, n_toks, round(CAST(n_oov AS DOUBLE) / n_toks, 6) AS oov_frac,
       |  round(sp / n_toks, 6) AS mean_tok_prob FROM agg ORDER BY id""".stripMargin)

  /** Cross-document duplicated spans (the suffix-array-dedup signal,
    * span-hash form): 5-token spans appearing in ≥2 distinct docs,
    * rolled up per doc as (n_spans, n_dup_spans, dup_frac). One
    * explode + one span-keyed exchange; the count join is
    * co-partitioned on the span hash. */
  val qDupSpans: Q = "q_dup_spans" -> (
    (s: SparkSession, d: String) =>
      graft.ops.TextStats.duplicatedSpans(Tables.documents(s, d), spanLen = 5)
        .orderBy(col("id")),
    s"""WITH t AS (SELECT doc_id AS id, $TOKS AS toks FROM documents),
       |sp AS (SELECT id, list_distinct(list_transform(range(1, len(toks) - 3),
       |    i -> array_to_string(toks[i:i+4], ' '))) AS g
       |  FROM t WHERE len(toks) >= 5),
       |ex AS (SELECT id,
       |    CAST('0x' || substr(md5('0' || unnest(g)), 1, 15) AS BIGINT) AS h
       |  FROM sp),
       |c AS (SELECT h, count(*) AS n_docs FROM ex GROUP BY 1)
       |SELECT id, count(*) AS n_spans,
       |  CAST(sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       |  round(CAST(sum(CASE WHEN c.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 6) AS dup_frac
       |FROM ex JOIN c USING (h) GROUP BY id ORDER BY id""".stripMargin)

  /** q_dup_spans through the hot-span straggler guard: identical
    * semantics (the oracle is shared verbatim), different physical
    * plan — the per-span doc count is a partially-aggregated
    * groupBy(h) joined back (AQE-skew-splittable) instead of one
    * window partition per span hash, the route a corpus-universal
    * template span needs at 10⁸ docs. */
  val qDupSpansGuard: Q = "q_dup_spans_guard" -> (
    (s: SparkSession, d: String) =>
      graft.ops.TextStats.duplicatedSpans(Tables.documents(s, d), spanLen = 5,
          hotSpanGuard = true)
        .orderBy(col("id")),
    qDupSpans._2._2)

  /** Exact duplicated-span REMOVAL (the rewrite companion of
    * q_dup_spans): all but the first (id, pos)-ranked occurrence of
    * every corpus-duplicated 5-token span is cut out of the text.
    * Two corpus exchanges — span-hash rank window, then an
    * id-partitioned ±1 coverage event scan that resolves interval
    * overlap without a range join — and one per-doc rebuild. */
  val qSpanDedup: Q = "q_span_dedup" -> (
    (s: SparkSession, d: String) =>
      Dedup.spanDedup(Tables.documents(s, d), spanLen = 5)
        .orderBy(col("id")),
    s"""WITH t AS (SELECT doc_id AS id, $TOKS AS toks FROM documents),
       |sp AS (SELECT id, list_transform(range(1, len(toks) - 3),
       |    i -> {'pos': i, 'g': array_to_string(toks[i:i+4], ' ')}) AS gs
       |  FROM t WHERE len(toks) >= 5),
       |occ AS (SELECT id, u.pos AS pos,
       |    CAST('0x' || substr(md5('0' || u.g), 1, 15) AS BIGINT) AS h
       |  FROM (SELECT id, unnest(gs) AS u FROM sp)),
       |dup AS (SELECT id, pos FROM (
       |    SELECT id, pos, row_number() OVER (PARTITION BY h ORDER BY id, pos) AS rn
       |    FROM occ) WHERE rn > 1),
       |tok AS (SELECT id, u.pos AS pos, u.tok AS tok
       |  FROM (SELECT id, unnest(list_transform(range(1, len(toks) + 1),
       |    i -> {'pos': i, 'tok': toks[i]})) AS u FROM t)),
       |kept AS (SELECT k.id, k.pos, k.tok FROM tok k
       |  WHERE NOT EXISTS (SELECT 1 FROM dup d WHERE d.id = k.id
       |    AND k.pos >= d.pos AND k.pos < d.pos + 5)),
       |agg AS (SELECT id, count(*) AS n_kept,
       |    string_agg(tok, ' ' ORDER BY pos) AS clean_text
       |  FROM kept GROUP BY id)
       |SELECT t.id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
       |  CAST(len(t.toks) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
       |  COALESCE(a.clean_text, '') AS clean_text
       |FROM t LEFT JOIN agg a USING (id) ORDER BY t.id""".stripMargin)

  /** q_span_dedup through the hot-span straggler guard: identical
    * semantics (shared oracle), but rank-1-keeps is computed as a
    * partially-aggregated argmin per span hash + AQE-splittable mark
    * join instead of the single-partition rank window. */
  val qSpanDedupGuard: Q = "q_span_dedup_guard" -> (
    (s: SparkSession, d: String) =>
      Dedup.spanDedup(Tables.documents(s, d), spanLen = 5, hotSpanGuard = true)
        .orderBy(col("id")),
    qSpanDedup._2._2)

  /** Incremental substring dedup: q_span_dedup's cut applied to a fresh
    * batch (odd ids) against the write-iff-absent span-hash store of
    * the corpus (even ids) — a batch occurrence is cut if its span
    * exists anywhere in the stored corpus OR repeats within the batch.
    * The corpus is never re-tokenized. */
  val qSpanDedupStored: Q = "q_span_dedup_stored" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val store = codebookPath(d, "span_set")
      Dedup.spanSetStored(docs.filter(col("doc_id") % 2 === 0), store, spanLen = 5)
      Dedup.spanDedupIncremental(docs.filter(col("doc_id") % 2 === 1), store,
          spanLen = 5)
        .orderBy(col("id"))
    },
    s"""WITH t0 AS (SELECT doc_id AS id, $TOKS AS toks FROM documents),
       |sp AS (SELECT id, list_transform(range(1, len(toks) - 3),
       |    i -> {'pos': i, 'g': array_to_string(toks[i:i+4], ' ')}) AS gs
       |  FROM t0 WHERE len(toks) >= 5),
       |occ AS (SELECT id, u.pos AS pos,
       |    CAST('0x' || substr(md5('0' || u.g), 1, 15) AS BIGINT) AS h
       |  FROM (SELECT id, unnest(gs) AS u FROM sp)),
       |cg AS (SELECT DISTINCT h FROM occ WHERE id % 2 = 0),
       |bo AS (SELECT id, pos, h,
       |    row_number() OVER (PARTITION BY h ORDER BY id, pos) AS rn
       |  FROM occ WHERE id % 2 = 1),
       |dup AS (SELECT bo.id, bo.pos FROM bo LEFT JOIN cg ON cg.h = bo.h
       |  WHERE bo.rn > 1 OR cg.h IS NOT NULL),
       |t AS (SELECT id, toks FROM t0 WHERE id % 2 = 1),
       |tok AS (SELECT id, u.pos AS pos, u.tok AS tok
       |  FROM (SELECT id, unnest(list_transform(range(1, len(toks) + 1),
       |    i -> {'pos': i, 'tok': toks[i]})) AS u FROM t)),
       |kept AS (SELECT k.id, k.pos, k.tok FROM tok k
       |  WHERE NOT EXISTS (SELECT 1 FROM dup d WHERE d.id = k.id
       |    AND k.pos >= d.pos AND k.pos < d.pos + 5)),
       |agg AS (SELECT id, count(*) AS n_kept,
       |    string_agg(tok, ' ' ORDER BY pos) AS clean_text
       |  FROM kept GROUP BY id)
       |SELECT t.id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
       |  CAST(len(t.toks) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
       |  COALESCE(a.clean_text, '') AS clean_text
       |FROM t LEFT JOIN agg a USING (id) ORDER BY t.id""".stripMargin)

  /** The span-store APPEND lifecycle (q_minhash_append at span
    * granularity, three slices by doc_id mod 3): slice 0 seeds the
    * span-hash store, slice 1's spans are folded in via
    * spanSetStoredAppend (anti-joined delta staged then appended — the
    * store stays the distinct set of everything seen), and slice 2 is
    * cleaned against the grown store: its occurrences of ANY slice-0/1
    * span are cut as corpus-owned, plus batch-internal rank-1-keeps.
    * The oracle rebuilds the grown gram set directly from slices 0+1. */
  val qSpanAppend: Q = "q_span_append" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val store = codebookPath(d, "span_append")
      Dedup.spanSetStored(docs.filter(col("doc_id") % 3 === 0), store, spanLen = 5)
      Dedup.spanSetStoredAppend(docs.filter(col("doc_id") % 3 === 1), store,
        spanLen = 5, batchTag = "b1")
      Dedup.spanDedupIncremental(docs.filter(col("doc_id") % 3 === 2), store,
          spanLen = 5)
        .orderBy(col("id"))
    },
    s"""WITH t0 AS (SELECT doc_id AS id, $TOKS AS toks FROM documents),
       |sp AS (SELECT id, list_transform(range(1, len(toks) - 3),
       |    i -> {'pos': i, 'g': array_to_string(toks[i:i+4], ' ')}) AS gs
       |  FROM t0 WHERE len(toks) >= 5),
       |occ AS (SELECT id, u.pos AS pos,
       |    CAST('0x' || substr(md5('0' || u.g), 1, 15) AS BIGINT) AS h
       |  FROM (SELECT id, unnest(gs) AS u FROM sp)),
       |cg AS (SELECT DISTINCT h FROM occ WHERE id % 3 < 2),
       |bo AS (SELECT id, pos, h,
       |    row_number() OVER (PARTITION BY h ORDER BY id, pos) AS rn
       |  FROM occ WHERE id % 3 = 2),
       |dup AS (SELECT bo.id, bo.pos FROM bo LEFT JOIN cg ON cg.h = bo.h
       |  WHERE bo.rn > 1 OR cg.h IS NOT NULL),
       |t AS (SELECT id, toks FROM t0 WHERE id % 3 = 2),
       |tok AS (SELECT id, u.pos AS pos, u.tok AS tok
       |  FROM (SELECT id, unnest(list_transform(range(1, len(toks) + 1),
       |    i -> {'pos': i, 'tok': toks[i]})) AS u FROM t)),
       |kept AS (SELECT k.id, k.pos, k.tok FROM tok k
       |  WHERE NOT EXISTS (SELECT 1 FROM dup d WHERE d.id = k.id
       |    AND k.pos >= d.pos AND k.pos < d.pos + 5)),
       |agg AS (SELECT id, count(*) AS n_kept,
       |    string_agg(tok, ' ' ORDER BY pos) AS clean_text
       |  FROM kept GROUP BY id)
       |SELECT t.id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
       |  CAST(len(t.toks) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
       |  COALESCE(a.clean_text, '') AS clean_text
       |FROM t LEFT JOIN agg a USING (id) ORDER BY t.id""".stripMargin)

  /** Corpus-level boilerplate removal: every occurrence of a span that
    * appears in >= minDf distinct docs is cut — including the first
    * (template spans have no canonical owner, unlike q_span_dedup's
    * keep-rank-1 rule). */
  val qBoilerplate: Q = "q_boilerplate" -> (
    (s: SparkSession, d: String) =>
      Dedup.boilerplateRemoval(Tables.documents(s, d), spanLen = 4, minDf = 3)
        .orderBy(col("id")),
    s"""WITH t AS (SELECT doc_id AS id, $TOKS AS toks FROM documents),
       |sp AS (SELECT id, list_transform(range(1, len(toks) - 2),
       |    i -> {'pos': i, 'g': array_to_string(toks[i:i+3], ' ')}) AS gs
       |  FROM t WHERE len(toks) >= 4),
       |occ AS (SELECT id, u.pos AS pos,
       |    CAST('0x' || substr(md5('0' || u.g), 1, 15) AS BIGINT) AS h
       |  FROM (SELECT id, unnest(gs) AS u FROM sp)),
       |hot AS (SELECT h FROM occ GROUP BY h HAVING count(DISTINCT id) >= 3),
       |dup AS (SELECT o.id, o.pos FROM occ o JOIN hot USING (h)),
       |tok AS (SELECT id, u.pos AS pos, u.tok AS tok
       |  FROM (SELECT id, unnest(list_transform(range(1, len(toks) + 1),
       |    i -> {'pos': i, 'tok': toks[i]})) AS u FROM t)),
       |kept AS (SELECT k.id, k.pos, k.tok FROM tok k
       |  WHERE NOT EXISTS (SELECT 1 FROM dup d WHERE d.id = k.id
       |    AND k.pos >= d.pos AND k.pos < d.pos + 4)),
       |agg AS (SELECT id, count(*) AS n_kept,
       |    string_agg(tok, ' ' ORDER BY pos) AS clean_text
       |  FROM kept GROUP BY id)
       |SELECT t.id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
       |  CAST(len(t.toks) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
       |  COALESCE(a.clean_text, '') AS clean_text
       |FROM t LEFT JOIN agg a USING (id) ORDER BY t.id""".stripMargin)

  /** Hard-negative mining: per probe, the 3 nearest corpus vectors of a
    * DIFFERENT label (contrastive-training negatives). Probe side
    * broadcast; corpus scanned once, label inequality in the join
    * condition. */
  val qHardNegatives: Q = "q_hard_negatives" -> (
    (s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
      Ann.hardNegatives(emb, emb.filter(col("vec_id") < 10), k = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("q_id"), col("rank"))
    },
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_v, label AS q_label
       |    FROM embeddings WHERE vec_id < 10),
       |scored AS (SELECT q_id, q_label, c.vec_id AS n_id, c.label AS n_label,
       |    round(${cosSql("q_v", "c.embedding")}, 6) AS cos
       |  FROM q JOIN embeddings c ON c.vec_id <> q_id AND c.label <> q_label),
       |ranked AS (SELECT q_id, q_label, n_id, n_label, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
       |  FROM scored)
       |SELECT q_id, q_label, n_id, n_label, cos, rank FROM ranked
       |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin)

  /** int8-quantized ANN: brute cosine top-k over the write-once int8
    * store (4× smaller scans; exact 64-bit integer dot products —
    * order-free in any engine). The oracle quantizes the probes with
    * the stored scale and replays the integer math. */
  val qAnnInt8: Q = "q_ann_int8" -> (
    (s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
      val store = Ann.int8Stored(emb, codebookPath(d, "int8_emb"))
      Ann.bruteTopKInt8(store, emb.filter(col("vec_id") < 10), k = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("q_id"), col("rank"))
    },
    s"""WITH st AS (SELECT id, q
       |    FROM read_parquet('/root/repo/artifacts/int8_emb_${SF}/*.parquet')),
       |sc AS (SELECT any_value(scale) AS m
       |    FROM read_parquet('/root/repo/artifacts/int8_emb_${SF}/*.parquet')),
       |pq AS (SELECT vec_id AS q_id, list_transform(embedding, x ->
       |      CAST(round(CAST(x AS DOUBLE) * 127.0 / sc.m) AS TINYINT)) AS qq
       |  FROM embeddings CROSS JOIN sc WHERE vec_id < 10),
       |scored AS (SELECT q_id, st.id AS n_id,
       |    round(CASE WHEN ${int8NormSql("qq")} * ${int8NormSql("st.q")} > 0
       |      THEN CAST(${int8DotSql("qq", "st.q")} AS DOUBLE)
       |        / (${int8NormSql("qq")} * ${int8NormSql("st.q")})
       |      ELSE 0.0 END, 6) AS cos
       |  FROM pq JOIN st ON st.id <> q_id),
       |ranked AS (SELECT q_id, n_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
       |  FROM scored)
       |SELECT q_id, n_id, cos, rank FROM ranked WHERE rank <= 3
       |ORDER BY q_id, rank""".stripMargin)

  /** DSIR importance ranking (Xie et al. 2023): hashed unigram+bigram
    * bag LMs for target (lang='en') vs raw (all docs); per-doc weight =
    * Σ λ_bucket over gram occurrences, top-100 by (weight, id). λ table
    * trained once into the write-iff-absent store; the oracle reads the
    * same parquet, so both engines sum identical 6-dp decimals —
    * exact. */
  val qDsir: Q = "q_dsir" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val ratios = Dsir.ratiosStored(docs.filter(col("lang") === "en"), docs,
        buckets = 4096, path = codebookPath(d, "dsir_ratios"))
      Dsir.score(docs, ratios, buckets = 4096)
        // decimal-exact inside; double only at the output boundary
        .withColumn("weight", col("weight").cast("double"))
        .orderBy(col("weight").desc, col("doc_id"))
        .limit(100)
    },
    s"""WITH t AS (SELECT doc_id AS id, $TOKS AS toks FROM documents),
       |g AS (SELECT id, unnest(list_concat(toks,
       |    list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]))) AS gram
       |  FROM t),
       |b AS (SELECT id,
       |    CAST('0x' || substr(md5('0' || gram), 1, 15) AS BIGINT) % 4096 AS bucket
       |  FROM g),
       |r AS (SELECT bucket, llr
       |  FROM read_parquet('/root/repo/artifacts/dsir_ratios_${SF}/*.parquet')),
       |w AS (SELECT id AS doc_id,
       |    CAST(CAST(sum(r.llr) AS DECIMAL(18,6)) AS DOUBLE) AS weight,
       |    count(*) AS n_grams
       |  FROM b JOIN r USING (bucket) GROUP BY id)
       |SELECT doc_id, weight, n_grams FROM w
       |ORDER BY weight DESC, doc_id LIMIT 100""".stripMargin)

  /** Per-doc fluency under a top-500 bigram model (conditional
    * probability c(w1 w2)/c(w1)) — scrambled/concatenated text scores
    * near zero even when every token is common. Training is two
    * aggregates off one tokenize pass; scoring is map-only with the
    * model as a typedlit constant (the unigram-quality shape, one
    * order higher). */
  val qBigramQuality: Q = "q_bigram_quality" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val model = graft.ops.TextStats.bigramModel(docs, vocabSize = 500)
      graft.ops.TextStats.bigramScores(docs, model).orderBy(col("id"))
    },
    s"""WITH t AS (SELECT doc_id AS id, $TOKS AS toks FROM documents),
       |bg AS (SELECT id, list_transform(range(1, len(toks)),
       |    i -> toks[i] || ' ' || toks[i+1]) AS bgs
       |  FROM t WHERE len(toks) >= 2),
       |flat AS (SELECT id, unnest(bgs) AS b,
       |    generate_subscripts(bgs, 1) AS pos FROM bg),
       |bcnt AS (SELECT b, count(*) AS c FROM flat GROUP BY 1),
       |vocab AS (SELECT b, c FROM bcnt ORDER BY c DESC, b ASC LIMIT 500),
       |pfx AS (SELECT split_part(b, ' ', 1) AS w, CAST(sum(c) AS BIGINT) AS c
       |  FROM bcnt GROUP BY 1),
       |model AS (SELECT v.b, CAST(v.c AS DOUBLE) / p.c AS p
       |  FROM vocab v JOIN pfx p ON p.w = split_part(v.b, ' ', 1)),
       |pt AS (SELECT f.id, f.pos, COALESCE(m.p, 0.0) AS p,
       |    CASE WHEN m.b IS NULL THEN 1 ELSE 0 END AS miss
       |  FROM flat f LEFT JOIN model m USING (b)),
       |agg AS (SELECT id, count(*) AS n_bigrams, sum(miss) AS n_miss,
       |    list_sum(list(p ORDER BY pos)) AS sp FROM pt GROUP BY id)
       |SELECT id, n_bigrams,
       |  round(1.0 - CAST(n_miss AS DOUBLE) / n_bigrams, 6) AS hit_frac,
       |  round(sp / n_bigrams, 6) AS mean_cond_prob
       |FROM agg ORDER BY id""".stripMargin)

  /** Corpus drift between source slices: exact-integer total-variation
    * distance over per-source unigram distributions (Σ|ca·Nb − cb·Na|
    * through decimal(38,0), ONE final division — order-free integer
    * aggregation, hash-stable across engines). Inner join only: missing-
    * term mass is recovered from the totals, so the only term-keyed
    * exchange is the vocabulary-sized counts self-join. */
  val qCorpusDrift: Q = "q_corpus_drift" -> (
    (s: SparkSession, d: String) =>
      graft.ops.TextStats.sourceDrift(Tables.documents(s, d))
        .orderBy(col("src_a"), col("src_b")),
    s"""WITH flat AS (SELECT source AS src, unnest($TOKS) AS term FROM documents),
       |counts AS (SELECT src, term, count(*) AS c FROM flat GROUP BY 1, 2),
       |totals AS (SELECT src, sum(c) AS n FROM counts GROUP BY 1),
       |j AS (SELECT a.src AS src_a, b.src AS src_b, a.c AS ca, b.c AS cb
       |  FROM counts a JOIN counts b ON a.term = b.term AND a.src < b.src),
       |g AS (SELECT src_a, src_b, count(*) AS shared_terms,
       |    sum(abs(CAST(ca AS DECIMAL(19,0)) * CAST(tb.n AS DECIMAL(19,0))
       |      - CAST(cb AS DECIMAL(19,0)) * CAST(ta.n AS DECIMAL(19,0)))) AS s_abs,
       |    sum(ca) AS s_ca, sum(cb) AS s_cb
       |  FROM j JOIN totals ta ON ta.src = j.src_a
       |  JOIN totals tb ON tb.src = j.src_b
       |  GROUP BY 1, 2),
       |p AS (SELECT ta.src AS src_a, tb.src AS src_b, ta.n AS na, tb.n AS nb
       |  FROM totals ta JOIN totals tb ON ta.src < tb.src)
       |SELECT p.src_a, p.src_b, COALESCE(g.shared_terms, 0) AS shared_terms,
       |  round((COALESCE(CAST(g.s_abs AS DOUBLE), 0.0)
       |    + CAST(p.nb AS DOUBLE) * CAST(p.na - COALESCE(g.s_ca, 0) AS DOUBLE)
       |    + CAST(p.na AS DOUBLE) * CAST(p.nb - COALESCE(g.s_cb, 0) AS DOUBLE))
       |    / (2.0 * CAST(p.na AS DOUBLE) * CAST(p.nb AS DOUBLE)), 6) AS tv_dist
       |FROM p LEFT JOIN g ON g.src_a = p.src_a AND g.src_b = p.src_b
       |ORDER BY p.src_a, p.src_b""".stripMargin)

  /** DuckDB mirror of Layout.spread16 (magic-number bit spread). */
  private def spreadSql(x: String): String = {
    val s0 = s"($x & 65535)"
    val s1 = s"(($s0 | ($s0 << 8)) & 16711935)"
    val s2 = s"(($s1 | ($s1 << 4)) & 252645135)"
    val s3 = s"(($s2 | ($s2 << 2)) & 858993459)"
    s"(($s3 | ($s3 << 1)) & 1431655765)"
  }

  /** Z-order (Morton) clustering key — the write-side layout op for
    * multi-column scan pruning (`ops.Layout.zorderBy`; LayoutSpec
    * measures the per-file range narrowing). Pure integer bit math,
    * whole-stage codegen, mirrored 1:1 in DuckDB. */
  val qZorder: Q = "q_zorder" -> (
    (s: SparkSession, d: String) =>
      Tables.events(s, d)
        .select(col("event_id"),
          graft.ops.Layout.morton2(col("user_id"), col("event_id")).as("z"))
        .orderBy(col("event_id")),
    s"""SELECT event_id,
       |  (${spreadSql("user_id")} | (${spreadSql("event_id")} << 1)) AS z
       |FROM events ORDER BY event_id""".stripMargin)

  /** Deny-list decontamination: whole-word scrub + audit count. */
  private val DENY = Seq("customer", "vector", "spark")
  val qRedact: Q = "q_redact" -> (
    (s: SparkSession, d: String) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          md5(Text.redactTerms(col("text"), DENY, "<TERM>")).as("red_fp"),
          Text.redactTermCount(col("text"), DENY).cast("long").as("n_hits"))
        .orderBy(col("doc_id")),
    s"""SELECT doc_id,
       |  md5(regexp_replace(text, '\\b(customer|vector|spark)\\b', '<TERM>', 'g')) AS red_fp,
       |  CAST(len(regexp_extract_all(text, '\\b(customer|vector|spark)\\b')) AS BIGINT) AS n_hits
       |FROM documents ORDER BY doc_id""".stripMargin)

  /** Fixed-window chunking with overlap (map-only tokenizer prep):
    * 32-token windows every 24 tokens. */
  val qChunk: Q = "q_chunk" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Pack.chunk(Tables.documents(s, d), maxTokens = 32, overlap = 8)
        .select(col("id"), col("chunk_idx"), col("n_chunk_tokens"),
          md5(col("chunk")).as("chunk_fp"))
        .orderBy(col("id"), col("chunk_idx")),
    s"""WITH t AS (SELECT doc_id AS id, $TOKS AS toks, len($TOKS) AS n
       |  FROM documents),
       |c AS (SELECT id, toks, n, unnest(range(0, n, 24)) AS start FROM t)
       |SELECT id, start // 24 AS chunk_idx,
       |  LEAST(n - start, 32) AS n_chunk_tokens,
       |  md5(array_to_string(toks[start+1:start+32], ' ')) AS chunk_fp
       |FROM c ORDER BY id, chunk_idx""".stripMargin)

  /** Deterministic train/val/test assignment by hash-unit ranges (the
    * split never moves rows between reruns or unrelated splits). */
  val qSplits: Q = "q_splits" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Sampling.splits(Tables.documents(s, d),
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), "doc_id", seed = 7)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_id"))
        .orderBy(col("split")),
    s"""SELECT split, count(*) AS n_docs, min(doc_id) AS min_id FROM (
       |  SELECT doc_id, CASE
       |    WHEN ${hashUnitSql("doc_id", 7)} < 900000 THEN 'train'
       |    WHEN ${hashUnitSql("doc_id", 7)} < 950000 THEN 'val'
       |    ELSE 'test' END AS split
       |  FROM documents)
       |GROUP BY split ORDER BY split""".stripMargin)

  /** Curriculum length-bucketing: equal-population token-length bands per
    * language shard (ntile rank window). */
  val qLengthBuckets: Q = "q_length_buckets" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          Text.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.ops.Pack.lengthBuckets(docs, 4, "lang", "n_tokens", "doc_id")
        .orderBy(col("lang"), col("doc_id"))
    },
    s"""WITH t AS (SELECT doc_id, lang, CAST(len($TOKS) AS BIGINT) AS n_tokens
       |  FROM documents)
       |SELECT doc_id, lang, n_tokens,
       |  CAST(ntile(4) OVER (PARTITION BY lang ORDER BY n_tokens, doc_id) AS BIGINT) AS bucket
       |FROM t ORDER BY lang, doc_id""".stripMargin)

  /** Deterministic global shuffle for training export: distributed
    * range-sort by hash + two-pass position assignment (zipWithIndex
    * shape — only per-partition counts visit the driver). */
  val qShuffleExport: Q = "q_shuffle_export" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Sampling.shuffledExport(
        Tables.documents(s, d).select(col("doc_id"), col("lang")), "doc_id", seed = 7)
        .select(col("doc_id"), col("pos"))
        .orderBy(col("pos")),
    s"""SELECT doc_id, row_number() OVER (
       |    ORDER BY ${hashUnitSql("doc_id", 7)}, doc_id) - 1 AS pos
       |FROM documents ORDER BY pos""".stripMargin)

  /** The classifier's train-once lifecycle: weights + learned cut from
    * the write-once side-table; scoring never re-reads the training
    * pass. Same answer as q_quality_classifier by determinism. */
  val qQcStored: Q = "q_qc_stored" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val (model, cut) = graft.ops.QualityClassifier.modelStored(docs,
        codebookPath(d, "qc_model"), buckets = 1024, seed = 11,
        labelThreshold = 0.68)
      graft.ops.QualityClassifier.score(docs, model, buckets = 1024,
        seed = 11, cutPpm = cut).orderBy(col("doc_id"))
    },
    // a def, not a reference to the later val — object-init-order safe
    qualityClassifierOracleSql)

  /** Corpus-side decontamination with a Bloom pre-screen — the
    * production direction (flag TRAINING docs sharing a 5-gram with
    * the eval set, the rows you drop before training). The Bloom
    * filter screens corpus grams MAP-SIDE before the exchange; the
    * exact confirm join makes the sketch invisible to the result, so
    * the oracle is the plain exact join with the sides of
    * q_ngram_decontam swapped. */
  val qBloomDecontam: Q = "q_bloom_decontam" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      // sketch sized to the eval suite (~122k distinct grams at sf0.1):
      // ~8 bits/key — the fpp survivors die in the confirm join anyway
      graft.ops.BloomScreen.corpusContaminatedBloom(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1), n = 5,
          expectedItems = 1L << 17, numBits = 1L << 20)
        .orderBy(col("corpus_id"))
    },
    bloomDecontamOracleSql)

  /** Both Bloom-decontamination variants screen even (training) docs
    * against odd (eval) docs' 5-grams — the exact confirm join makes
    * the sketch invisible, so one oracle serves inline and stored. */
  private def bloomDecontamOracleSql: String =
    s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
       |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' ')))) AS gram
       |  FROM t WHERE len(toks) >= 5),
       |e AS (SELECT DISTINCT gram FROM g WHERE doc_id % 2 = 1),
       |c AS (SELECT doc_id, gram FROM g WHERE doc_id % 2 = 0)
       |SELECT c.doc_id AS corpus_id, count(*) AS hits
       |FROM c JOIN e USING (gram)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Steady-state decontamination: the eval gram set + Bloom sketch
    * live as a write-once store ([[graft.ops.BloomScreen.gramSetStored]]
    * — the centroids/codebook lifecycle applied to the reference set);
    * screening the corpus never recomputes the eval side. Same answer
    * as q_bloom_decontam by construction. */
  val qBloomStored: Q = "q_bloom_stored" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val store = codebookPath(d, "bloom_gramset")
      graft.ops.BloomScreen.gramSetStored(
        docs.filter(col("doc_id") % 2 === 1), store, n = 5,
        expectedItems = 1L << 17, numBits = 1L << 20)
      graft.ops.BloomScreen.corpusContaminatedFromStore(
          docs.filter(col("doc_id") % 2 === 0), store, n = 5)
        .orderBy(col("corpus_id"))
    },
    bloomDecontamOracleSql)

  /** Hashed Naive-Bayes quality classifier (the fastText-style
    * heuristic-distillation filter): train bucket weights from the
    * q_quality heuristic as labels, score map-only with the model as a
    * typedlit constant. All integer ppm arithmetic — the oracle
    * replays train AND score bit-exactly. */
  val qQualityClassifier: Q = "q_quality_classifier" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val (model, cut) = graft.ops.QualityClassifier.train(docs,
        buckets = 1024, seed = 11, labelThreshold = 0.68)
      graft.ops.QualityClassifier.score(docs, model, buckets = 1024,
        seed = 11, cutPpm = cut).orderBy(col("doc_id"))
    },
    qualityClassifierOracleSql)

  /** Shared by the inline and stored classifier queries — training is
    * deterministic, so both replay against the same train+cut+score
    * SQL. */
  private def qualityClassifierOracleSql: String =
    s"""WITH t AS (SELECT doc_id, $TOKS AS toks,
       |    LEAST(len($TOKS) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE)
       |    + (CAST(1.0 AS DOUBLE) - length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / GREATEST(length(text), 1)) * CAST(0.2 AS DOUBLE)
       |    + length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / GREATEST(length(text), 1) * CAST(0.2 AS DOUBLE)
       |    + len(list_distinct($TOKS)) / GREATEST(len($TOKS), 1) * CAST(0.2 AS DOUBLE) AS q
       |  FROM documents),
       |lab AS (SELECT doc_id, toks,
       |    CASE WHEN round(q, 6) >= 0.68 THEN 1 ELSE 0 END AS good FROM t),
       |b AS (SELECT doc_id, good,
       |    CAST('0x' || substr(md5('11' || unnest(toks)), 1, 15) AS BIGINT) % 1024 AS bucket
       |  FROM lab),
       |w AS (SELECT bucket,
       |    (1000000 * (CAST(sum(good) AS BIGINT) + 1)) // (count(*) + 2) AS w
       |  FROM b GROUP BY 1),
       |cut AS (SELECT (1000000 * (CAST(sum(good) AS BIGINT) + 1)) // (count(*) + 2) AS c
       |  FROM b),
       |sc AS (SELECT doc_id, count(*) AS n_toks,
       |    CAST(sum(COALESCE(w.w, 500000)) AS BIGINT) AS sw
       |  FROM b LEFT JOIN w USING (bucket) GROUP BY 1)
       |SELECT doc_id, n_toks, CAST(sw // n_toks AS BIGINT) AS score_ppm,
       |  CAST(CASE WHEN sw // n_toks >= (SELECT c FROM cut) THEN 1 ELSE 0 END AS BIGINT) AS pred
       |FROM sc ORDER BY doc_id""".stripMargin

  /** Leakage-safe train/val/test: near-duplicates co-assign — the split
    * hashes the duplicate-CLUSTER representative (from the same MinHash
    * pair graph as q_dup_clusters), so an eval doc can never have a
    * training near-twin. Unclustered docs group as themselves. */
  val qLeakageSplit: Q = "q_leakage_split" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashLsh(docs, tau = MH_TAU,
        shingleLen = 3, bands = MH_BANDS, rowsPerBand = MH_ROWS)
      val clusters = Dedup.duplicateClusters(pairs)
      graft.ops.Sampling.leakageSafeSplits(docs, clusters,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "doc_id", seed = 7)
        .select(col("doc_id"), col("split_group"), col("split"))
        .orderBy(col("doc_id"))
    },
    s"""WITH RECURSIVE src0 AS (SELECT doc_id AS id, text FROM documents),
       |${minhashPairsCtes("src0")},
       |p AS (SELECT id_a, id_b FROM mh_pairs WHERE jaccard_est >= $MH_TAU),
       |e AS (SELECT id_a AS src, id_b AS dst FROM p
       |  UNION ALL SELECT id_b, id_a FROM p),
       |v AS (SELECT DISTINCT src AS id FROM e),
       |reach(id, r) AS (
       |  SELECT id, id FROM v
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
       |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |g AS (SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS split_group
       |  FROM documents d LEFT JOIN cl ON cl.id = d.doc_id)
       |SELECT doc_id, split_group, CASE
       |    WHEN ${hashUnitSql("split_group", 7)} < 800000 THEN 'train'
       |    WHEN ${hashUnitSql("split_group", 7)} < 900000 THEN 'val'
       |    ELSE 'test' END AS split
       |FROM g ORDER BY doc_id""".stripMargin)

  /** Sharded training export with a verifiable manifest: rows in the
    * deterministic shuffle order cut into 256-row shards; each shard's
    * content fingerprint is md5 over its ordered per-row fingerprints
    * — rebuild-checkable in any engine (parquet bytes are not
    * canonical; the row-fingerprint chain is). */
  val qExportShards: Q = "q_export_shards" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), graft.functions.Text.fingerprint(col("text")).as("fp"))
      graft.ops.Sampling.shardManifest(
          graft.ops.Sampling.exportShards(docs, shardSize = 256, "doc_id", seed = 7),
          "fp")
        .orderBy(col("shard"))
    },
    s"""WITH o AS (SELECT doc_id, md5($NORM) AS fp, row_number() OVER (
       |    ORDER BY ${hashUnitSql("doc_id", 7)}, doc_id) - 1 AS pos
       |  FROM documents)
       |SELECT pos // 256 AS shard, count(*) AS n_rows,
       |  min(pos) AS min_pos, max(pos) AS max_pos,
       |  md5(string_agg(fp, '' ORDER BY pos)) AS content_fp
       |FROM o GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Gopher-style document filter (the repetition/format heuristics of
    * the Gopher corpus paper, re-expressed integer-exact): every ratio
    * rule is CROSS-MULTIPLIED (5·alpha ≥ 4·n, 3n ≤ Σlen ≤ 10n, …), never
    * divided, so both engines compare the same integers bit-for-bit.
    * One tokenize projection feeds every signal — map-only, zero
    * exchanges; at 100 TB this rides the ingest scan. */
  /** The Gopher signals + keep flag as a DataFrame (shared by the
    * standalone filter query and the packing composite). */
  private def gopherSignals(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), Text.tokens(col("text")).as("toks"))
      .withColumn("sh", Text.shinglesFromTokens(col("toks"), 2))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        Text.tokenLenSum(col("toks")).as("len_sum"),
        Text.alphaWordCount(col("toks")).as("alpha_words"),
        Text.stopwordHitsFromTokens(col("toks"), Text.EN_STOPWORDS)
          .as("stop_hits"),
        size(col("sh")).cast("long").as("n_grams"),
        size(array_distinct(col("sh"))).cast("long").as("n_distinct_grams"))
      .withColumn("keep",
        when(col("n_words").between(50L, 100000L)
          && col("len_sum") >= col("n_words") * 3L
          && col("len_sum") <= col("n_words") * 10L
          && col("alpha_words") * 5L >= col("n_words") * 4L
          && col("stop_hits") >= 2L
          && (col("n_grams") === 0L
            || col("n_distinct_grams") * 5L >= col("n_grams") * 4L),
          1L).otherwise(0L))

  /** DuckDB mirror of [[gopherSignals]]: CTEs gf(doc_id, signals…) and
    * the keep condition over gf's columns. */
  private val GOPHER_CTES =
    s"""gt AS (SELECT doc_id, $TOKS AS toks FROM documents),
       |gg AS (SELECT doc_id, toks,
       |    list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS sh
       |  FROM gt),
       |gf AS (SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_words,
       |    CAST(COALESCE(list_sum(list_transform(toks, t -> length(t))), 0) AS BIGINT) AS len_sum,
       |    CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS alpha_words,
       |    CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','to','in','is'], t))) AS BIGINT) AS stop_hits,
       |    CAST(len(sh) AS BIGINT) AS n_grams,
       |    CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct_grams
       |  FROM gg)""".stripMargin

  private val GOPHER_COND =
    """n_words BETWEEN 50 AND 100000
      |    AND len_sum BETWEEN 3 * n_words AND 10 * n_words
      |    AND 5 * alpha_words >= 4 * n_words
      |    AND stop_hits >= 2
      |    AND (n_grams = 0 OR 5 * n_distinct_grams >= 4 * n_grams)""".stripMargin

  val qGopherQuality: Q = "q_gopher_quality" -> (
    (s: SparkSession, d: String) =>
      gopherSignals(Tables.documents(s, d)).orderBy(col("doc_id")),
    s"""WITH $GOPHER_CTES
       |SELECT doc_id, n_words, len_sum, alpha_words, stop_hits, n_grams,
       |  n_distinct_grams,
       |  CAST(CASE WHEN $GOPHER_COND
       |  THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM gf ORDER BY doc_id""".stripMargin)

  /** Corpus snapshot diff: added/removed/changed/unchanged counts per
    * source between version 1 (the documents table) and a
    * deterministically simulated version 2 (drop id%7=0, revise id%7=1,
    * add clones of id%7=2 under new ids). The diff itself is the
    * operator: ONE co-partitioned full-outer hash join of two
    * fingerprint projections on the doc key — at 100 TB each side
    * shuffles once on doc_id (or not at all off bucketed stores), and
    * the content compare is an md5 equality, never a text compare. */
  val qCorpusDiff: Q = "q_corpus_diff" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val v1 = docs.select(col("doc_id"), col("source"),
        Text.fingerprint(col("text")).as("fp"))
      val v2 = docs.filter(pmod(col("doc_id"), lit(7L)) =!= 0L)
        .select(col("doc_id"), col("source"),
          Text.fingerprint(
            when(pmod(col("doc_id"), lit(7L)) === 1L,
              concat(col("text"), lit(" rev2"))).otherwise(col("text"))).as("fp"))
        .unionAll(docs.filter(pmod(col("doc_id"), lit(7L)) === 2L)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("source"),
            Text.fingerprint(col("text")).as("fp")))
      v1.withColumnRenamed("source", "src_a").withColumnRenamed("fp", "fp_a")
        .join(v2.withColumnRenamed("source", "src_b")
          .withColumnRenamed("fp", "fp_b"), Seq("doc_id"), "full_outer")
        .select(coalesce(col("src_a"), col("src_b")).as("source"),
          when(col("fp_b").isNull, "removed")
            .when(col("fp_a").isNull, "added")
            .when(col("fp_a") =!= col("fp_b"), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy(col("source"), col("status"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("source"), col("status"))
    },
    s"""WITH v1 AS (SELECT doc_id, source, md5($NORM) AS fp FROM documents),
       |v2 AS (SELECT doc_id, source,
       |    md5(lower(trim(regexp_replace(
       |      CASE WHEN doc_id % 7 = 1 THEN text || ' rev2' ELSE text END,
       |      '\\s+', ' ', 'g')))) AS fp
       |  FROM documents WHERE doc_id % 7 <> 0
       |  UNION ALL
       |  SELECT doc_id + 1000000, source, md5($NORM) FROM documents
       |  WHERE doc_id % 7 = 2),
       |j AS (SELECT COALESCE(a.source, b.source) AS source,
       |    CASE WHEN b.fp IS NULL THEN 'removed'
       |      WHEN a.fp IS NULL THEN 'added'
       |      WHEN a.fp <> b.fp THEN 'changed'
       |      ELSE 'unchanged' END AS status
       |  FROM v1 a FULL OUTER JOIN v2 b USING (doc_id))
       |SELECT source, status, CAST(count(*) AS BIGINT) AS n
       |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)

  /** Exact weighted quantiles per group (token-count-weighted median and
    * p90 of doc length per source): cumulative-weight window, quantile =
    * first value whose cumulative weight crosses q·total — the
    * cross-multiplied integer form (2·cum ≥ tot, 10·cum ≥ 9·tot), no
    * floating division anywhere. ONE exchange on the group key serves
    * both the running sum and the per-group total; the final per-group
    * min is a partial-aggregated hash agg on the same key. */
  val qWeightedQuantile: Q = "q_weighted_quantile" -> (
    (s: SparkSession, d: String) => {
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n_chars"), col("doc_id"))
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"),
          Text.tokenCount(col("text")).cast("long").as("wt"))
        .withColumn("cum", sum(col("wt")).over(w))
        .withColumn("tot", sum(col("wt")).over(Window.partitionBy(col("source"))))
      base.groupBy(col("source"))
        .agg(
          min(when(col("cum") * 2L >= col("tot"), col("n_chars"))).as("w_median"),
          min(when(col("cum") * 10L >= col("tot") * 9L, col("n_chars"))).as("w_p90"),
          max(col("tot")).as("tot_w"))
        .orderBy(col("source"))
    },
    s"""WITH b AS (SELECT doc_id, source, n_chars,
       |    CAST(len($TOKS) AS BIGINT) AS wt FROM documents),
       |c AS (SELECT source, n_chars,
       |    sum(wt) OVER (PARTITION BY source ORDER BY n_chars, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum,
       |    sum(wt) OVER (PARTITION BY source) AS tot
       |  FROM b)
       |SELECT source,
       |  min(CASE WHEN 2 * cum >= tot THEN n_chars END) AS w_median,
       |  min(CASE WHEN 10 * cum >= 9 * tot THEN n_chars END) AS w_p90,
       |  CAST(max(tot) AS BIGINT) AS tot_w
       |FROM c GROUP BY source ORDER BY source""".stripMargin)

  /** Chunk→document embedding pooling over the int8 store: per-dimension
    * integer SUMS (plus the chunk count), never a float mean — exact in
    * any engine and any order, and the caller can divide at the edge.
    * Reads ONLY the quantized store (4× less scan than float vectors).
    * The explode+hash-agg shape partial-aggregates map-side wherever a
    * doc's chunks are co-located (they are, in id-ordered stores); the
    * packed-array alternative (collect_list + zip_with fold) trades
    * shuffle volume for no partial agg — explode wins when chunks
    * cluster, which an id-partitioned store guarantees. */
  val qPooledEmbed: Q = "q_pooled_embed" -> (
    (s: SparkSession, d: String) => {
      val store = Ann.int8Stored(Tables.embeddings(s, d),
        codebookPath(d, "int8_emb"))
      store.select(floor(col("id") / 8L).cast("long").as("doc_id"),
          posexplode(col("q")).as(Seq("dim", "v")))
        .groupBy(col("doc_id"), col("dim"))
        .agg(sum(col("v")).cast("long").as("sum_q"),
          count(lit(1)).as("n_chunks"))
        .withColumn("dim", col("dim").cast("long"))
        .orderBy(col("doc_id"), col("dim"))
    },
    s"""WITH st AS (SELECT id, q
       |    FROM read_parquet('/root/repo/artifacts/int8_emb_${SF}/*.parquet')),
       |e AS (SELECT id // 8 AS doc_id,
       |    unnest(q) AS v,
       |    unnest(range(len(q))) AS dim
       |  FROM st)
       |SELECT doc_id, CAST(dim AS BIGINT) AS dim,
       |  CAST(sum(v) AS BIGINT) AS sum_q,
       |  CAST(count(*) AS BIGINT) AS n_chunks
       |FROM e GROUP BY doc_id, dim ORDER BY doc_id, dim""".stripMargin)

  /** Dataset card: the per-(source,lang) / per-source / global corpus
    * summary in ONE pass — GROUPING SETS, not three scans union'd. The
    * distinct-fingerprint count folds the exact-dup rate into the card;
    * token and char totals are integer sums. At 100 TB this is one
    * Expand(×3) over the scan feeding one partial-aggregated exchange —
    * the canonical "corpus stats" job. */
  val qDatasetCard: Q = "q_dataset_card" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d).select(col("source"), col("lang"),
        Text.fingerprint(col("text")).as("fp"),
        Text.tokenCount(col("text")).cast("long").as("nt"), col("n_chars"))
      docs.groupingSets(
          Seq(Seq(col("source"), col("lang")), Seq(col("source")), Seq()),
          col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_unique"),
          sum(col("nt")).as("total_tokens"),
          sum(col("n_chars")).as("total_chars"))
        .select(coalesce(col("source"), lit("(all)")).as("source"),
          coalesce(col("lang"), lit("(all)")).as("lang"),
          col("n_docs"), col("n_unique"), col("total_tokens"),
          col("total_chars"))
        .orderBy(col("source"), col("lang"))
    },
    s"""SELECT COALESCE(source, '(all)') AS source,
       |  COALESCE(lang, '(all)') AS lang,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT md5($NORM)) AS BIGINT) AS n_unique,
       |  CAST(sum(len($TOKS)) AS BIGINT) AS total_tokens,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars
       |FROM documents
       |GROUP BY GROUPING SETS ((source, lang), (source), ())
       |ORDER BY 1, 2""".stripMargin)

  /** Per-doc most-similar document ("find the near-twin"): the MinHash
    * band join supplies candidates (tau=0 keeps every banded pair), then
    * one symmetric max_by argmax per doc — highest estimate, ties to the
    * smallest neighbor id. Same bounded-bucket machinery as the dedup
    * family, so candidate cost is band-bucket-sized, never all-pairs;
    * the argmax is O(1) state per key. jaccard_est = matches/32 is a
    * dyadic rational — exact in doubles, safe to hash-compare. */
  val qNearestDoc: Q = "q_nearest_doc" -> (
    (s: SparkSession, d: String) => {
      val pairs = Dedup.minhashLsh(Tables.documents(s, d), tau = 0.0,
        shingleLen = 3, bands = MH_BANDS, rowsPerBand = MH_ROWS)
      val sym = pairs.select(col("id_a").as("id"), col("id_b").as("nn"),
          col("jaccard_est"))
        .unionAll(pairs.select(col("id_b").as("id"), col("id_a").as("nn"),
          col("jaccard_est")))
      sym.groupBy(col("id"))
        .agg(max_by(struct(col("nn"), col("jaccard_est")),
          struct(col("jaccard_est"), (-col("nn")).as("tie"))).as("t"))
        .select(col("id").as("doc_id"), col("t.nn").as("nn_id"),
          col("t.jaccard_est").as("jaccard_est"))
        .orderBy(col("doc_id"))
    },
    s"""WITH src0 AS (SELECT doc_id AS id, text FROM documents),
       |${minhashPairsCtes("src0")},
       |sym AS (SELECT id_a AS id, id_b AS nn, jaccard_est FROM mh_pairs
       |  UNION ALL SELECT id_b, id_a, jaccard_est FROM mh_pairs),
       |r AS (SELECT id, nn, jaccard_est, row_number() OVER (
       |    PARTITION BY id ORDER BY jaccard_est DESC, nn ASC) AS rn
       |  FROM sym)
       |SELECT id AS doc_id, nn AS nn_id, jaccard_est
       |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin)

  /** Unrolled k-round BPE oracle. Per round: pair counts over the
    * vocab-sized symbol table, a LIMIT-1 argmax with the trainer's
    * (freq desc, l, r) tie-break, and a per-word RECURSIVE-CTE fold
    * replaying the trainer's greedy left-to-right merge application
    * exactly (a row per scan position; terminal rows at pos = len+1).
    * If a round finds no pairs its m-CTE is empty and every later
    * round inherits an empty table — matching the trainer's early
    * stop row-for-row. Every chain CTE is MATERIALIZED: DuckDB inlines
    * plain CTEs at each reference, and with two references per round
    * the 6-round chain re-evaluates exponentially without the hint
    * (measured: >10 min inlined, sub-second materialized). */
  private def bpeOracleCtes(k: Int): String = {
    val rounds = (1 to k).map { r =>
      val prev = s"s${r - 1}"
      s"""p$r AS MATERIALIZED (SELECT unnest(list_transform(range(1, len(sym)),
         |    i -> [sym[i], sym[i+1]])) AS pr, freq FROM $prev),
         |c$r AS MATERIALIZED (SELECT pr[1] AS l, pr[2] AS rr,
         |    CAST(sum(freq) AS BIGINT) AS f FROM p$r GROUP BY 1, 2),
         |m$r AS MATERIALIZED (SELECT l, rr, f FROM c$r ORDER BY f DESC, l, rr LIMIT 1),
         |a$r(word, freq, sym, pos, out) AS (
         |  SELECT word, freq, sym, 1, CAST([] AS VARCHAR[]) FROM $prev
         |  UNION ALL
         |  SELECT a.word, a.freq, a.sym,
         |    CASE WHEN a.pos < len(a.sym) AND a.sym[a.pos] = m.l
         |        AND a.sym[a.pos + 1] = m.rr
         |      THEN a.pos + 2 ELSE a.pos + 1 END,
         |    CASE WHEN a.pos < len(a.sym) AND a.sym[a.pos] = m.l
         |        AND a.sym[a.pos + 1] = m.rr
         |      THEN list_append(a.out, m.l || m.rr)
         |      ELSE list_append(a.out, a.sym[a.pos]) END
         |  FROM a$r a, m$r m WHERE a.pos <= len(a.sym)),
         |s$r AS MATERIALIZED (SELECT word, freq, out AS sym FROM a$r
         |  WHERE pos = len(sym) + 1)""".stripMargin
    }
    s"""t AS MATERIALIZED (SELECT doc_id, unnest($TOKS) AS word FROM documents),
       |w AS MATERIALIZED (SELECT word, count(*) AS freq FROM t GROUP BY word),
       |s0 AS MATERIALIZED (SELECT word, freq,
       |    list_transform(range(length(word)), i -> substr(word, i + 1, 1)) AS sym
       |  FROM w),
       |${rounds.mkString(",\n")}""".stripMargin
  }

  private def bpeOracleSql(k: Int): String = {
    val unions = (1 to k)
      .map(r => s"SELECT $r AS rank, l, rr, f FROM m$r")
      .mkString("\n  UNION ALL ")
    s"""WITH RECURSIVE
       |${bpeOracleCtes(k)},
       |mm AS ($unions)
       |SELECT CAST(rank AS BIGINT) AS rank, l AS "left", rr AS "right",
       |  f AS freq
       |FROM mm ORDER BY rank""".stripMargin
  }

  /** BPE tokenizer training ([[graft.ops.Bpe]]): 6 learned merges with
    * their pair frequencies. The corpus is scanned ONCE (word counts);
    * every round after that is an aggregation over the vocabulary-sized
    * symbol table plus a one-row driver argmax — the same model-sized
    * collect lifecycle as the k-means and PQ codebook trainers. */
  val qBpeMerges: Q = "q_bpe_merges" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Bpe.trainMergesDf(Tables.documents(s, d), k = 6)
        .orderBy(col("rank")),
    bpeOracleSql(6))

  /** Tokenizer APPLY under the stored merge table: per-doc BPE token
    * count. Encode runs once per DISTINCT word (vocab-sized) and the
    * corpus side is one explode + broadcast map-join + partial-agg sum
    * — no document is ever re-encoded. The oracle re-derives the
    * merges (training is deterministic, so store ≡ retrain) and reads
    * the final round's symbol table for the word→token-count map. */
  val qBpeEncode: Q = "q_bpe_encode" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val merges = graft.ops.Bpe
        .mergesStored(docs, k = 6, codebookPath(d, "bpe_merges"))
        .orderBy(col("rank"))
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      graft.ops.Bpe.tokenCountPerDoc(docs, merges)
        .orderBy(col("doc_id"))
    },
    s"""WITH RECURSIVE
       |${bpeOracleCtes(6)},
       |v AS MATERIALIZED (SELECT word, CAST(len(sym) AS BIGINT) AS n_tok
       |  FROM s6)
       |SELECT t.doc_id, CAST(sum(v.n_tok) AS BIGINT) AS n_bpe_tokens
       |FROM t JOIN v USING (word)
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin)

  /** Round-closing composite — "prepare a training shard": Gopher-keep
    * docs, count their BPE tokens under the STORED merge table, pack
    * into 512-token sequences per source. One corpus tokenize feeds the
    * filter, the (vocab-sized) encode feeds a broadcast map-join, and
    * the packer is the same single-window cumulative plan as
    * q_pack_seq — three pipeline stages, one exchange each. */
  val qBpePack: Q = "q_bpe_pack" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val merges = graft.ops.Bpe
        .mergesStored(docs, k = 6, codebookPath(d, "bpe_merges"))
        .orderBy(col("rank"))
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      val kept = docs.join(
        gopherSignals(docs).filter(col("keep") === 1L).select(col("doc_id")),
        Seq("doc_id"))
      val counts = graft.ops.Bpe.tokenCountPerDoc(kept, merges)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      graft.ops.Pack.contiguous(counts, budget = 512L, shardCol = "source",
          orderCol = "doc_id", tokensCol = "n_bpe_tokens")
        .select(col("doc_id"), col("source"), col("n_bpe_tokens"),
          col("bin"), col("offset_in_bin"))
        .orderBy(col("source"), col("doc_id"))
    },
    s"""WITH RECURSIVE
       |$GOPHER_CTES,
       |${bpeOracleCtes(6)},
       |v AS MATERIALIZED (SELECT word, CAST(len(sym) AS BIGINT) AS n_tok
       |  FROM s6),
       |kept AS (SELECT doc_id FROM gf WHERE $GOPHER_COND),
       |cnt AS (SELECT t.doc_id, CAST(sum(v.n_tok) AS BIGINT) AS n_bpe_tokens
       |  FROM t JOIN kept USING (doc_id) JOIN v USING (word)
       |  GROUP BY t.doc_id),
       |src AS (SELECT d.doc_id, d.source, cnt.n_bpe_tokens
       |  FROM documents d JOIN cnt USING (doc_id)),
       |cum AS (SELECT doc_id, source, n_bpe_tokens,
       |    CAST(COALESCE(SUM(n_bpe_tokens) OVER (PARTITION BY source
       |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0) AS BIGINT) AS cb
       |  FROM src)
       |SELECT doc_id, source, n_bpe_tokens,
       |  CAST(floor(cb / 512) AS BIGINT) AS bin, cb % 512 AS offset_in_bin
       |FROM cum ORDER BY source, doc_id""".stripMargin)

  /** ANN index EVALUATION: recall@3 of the IVF index against the
    * brute-force ground truth, per probe — the measurement loop every
    * production ANN deployment runs on a probe sample before trusting
    * an index. Integer-exact output (hit count and k, never a float
    * recall). At 100 TB ground truth comes from the same bounded probe
    * sample (10 queries here), so the brute side stays a broadcast-
    * probe scan, not an all-pairs join. */
  val qAnnRecall: Q = "q_ann_recall" -> (
    (s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
      val probes = emb.filter(col("vec_id") < 10)
      val truth = Ann.bruteTopK(emb, probes, k = 3)
        .select(col("q_id"), col("n_id"))
      val approx = Ann.ivfTopK(emb, probes, k = 3,
          centroidIds = (0L until 16L), nprobe = 2)
        .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
      truth.join(approx, Seq("q_id", "n_id"), "left_outer")
        .groupBy(col("q_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"),
          count(lit(1)).as("k"))
        .orderBy(col("q_id"))
    },
    {
      val centList = (0 until 16).mkString("(", ", ", ")")
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_v FROM embeddings
         |  WHERE vec_id < 10),
         |scored_b AS (SELECT q_id, c.vec_id AS n_id,
         |    round(${cosSql("q_v", "c.embedding")}, 6) AS cos
         |  FROM q JOIN embeddings c ON c.vec_id <> q_id),
         |b AS (SELECT q_id, n_id FROM (SELECT q_id, n_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |  FROM scored_b) WHERE rank <= 3),
         |cents AS (SELECT vec_id AS c_id, embedding AS c_v
         |  FROM embeddings WHERE vec_id IN $centList),
         |cell_n AS (SELECT n_id, n_v, c_id AS cell FROM (
         |  SELECT e.vec_id AS n_id, e.embedding AS n_v, c.c_id,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cosSql("e.embedding", "c.c_v")} DESC, c.c_id) AS crank
         |  FROM embeddings e CROSS JOIN cents c) WHERE crank = 1),
         |probe_q AS (SELECT q_id, q_v, c_id AS cell FROM (
         |  SELECT e.vec_id AS q_id, e.embedding AS q_v, c.c_id,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cosSql("e.embedding", "c.c_v")} DESC, c.c_id) AS crank
         |  FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 10) WHERE crank <= 2),
         |scored_i AS (SELECT q_id, n_id, round(${cosSql("q_v", "n_v")}, 6) AS cos
         |  FROM cell_n JOIN probe_q USING (cell) WHERE q_id <> n_id),
         |iv AS (SELECT q_id, n_id FROM (SELECT q_id, n_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |  FROM scored_i) WHERE rank <= 3)
         |SELECT b.q_id,
         |  CAST(count(iv.n_id) AS BIGINT) AS n_hit,
         |  CAST(count(*) AS BIGINT) AS k
         |FROM b LEFT JOIN iv USING (q_id, n_id)
         |GROUP BY b.q_id ORDER BY b.q_id""".stripMargin
    })

  /** Retrieval RANKING metrics for the ANN family — MRR and NDCG@10 of
    * the IVF ranking against brute-force truth (the graded companions
    * of q_ann_recall's set overlap: recall says WHETHER the truth was
    * found, these say WHERE it landed). Log discounts are PRECOMPUTED
    * literals inlined into both engines (Scala Double.toString
    * round-trips exactly), so no runtime log whose last-ulp could
    * differ between Java and libm; DCG folds in explicit rank order on
    * both sides. */
  val qAnnMetrics: Q = "q_ann_metrics" -> (
    (s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
      val probes = emb.filter(col("vec_id") < 10)
      val kk = 10
      val disc = (1 to kk).map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0)))
      val idcg = disc.scanLeft(0.0)(_ + _).tail
      val truth = Ann.bruteTopK(emb, probes, k = kk)
        .select(col("q_id"), col("n_id"), col("rank").cast("long").as("t_rank"))
      val approx = Ann.ivfTopK(emb, probes, k = kk,
          centroidIds = (0L until 16L), nprobe = 2)
        .select(col("q_id"), col("n_id"), col("rank").cast("long").as("rank"))
      approx.join(truth, Seq("q_id", "n_id"), "left")
        .select(col("q_id"), col("rank"),
          when(col("t_rank").isNotNull, lit(1.0)).otherwise(lit(0.0)).as("hit"),
          col("t_rank"))
        .groupBy(col("q_id"))
        .agg(
          sum(col("hit")).cast("long").as("n_hit"),
          coalesce(max(when(col("t_rank") === 1L,
            round(lit(1.0) / col("rank"), 6))), lit(0.0)).as("mrr"),
          aggregate(sort_array(collect_list(struct(col("rank"), col("hit")))),
            lit(0.0), (acc, x) => acc + x.getField("hit")
              * element_at(typedlit(disc), x.getField("rank").cast("int")))
            .as("dcg_raw"))
        .select(col("q_id"), col("n_hit"), col("mrr"),
          round(when(col("n_hit") > 0,
            col("dcg_raw") / element_at(typedlit(idcg), col("n_hit").cast("int")))
            .otherwise(lit(0.0)), 6).as("ndcg"))
        .orderBy(col("q_id"))
    },
    {
      val centList = (0 until 16).mkString("(", ", ", ")")
      val kk = 10
      val disc = (1 to kk).map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0)))
      val idcg = disc.scanLeft(0.0)(_ + _).tail
      val discSql = disc.mkString("[", ", ", "]")
      val idcgSql = idcg.mkString("[", ", ", "]")
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_v FROM embeddings
         |  WHERE vec_id < 10),
         |scored_b AS (SELECT q_id, c.vec_id AS n_id,
         |    round(${cosSql("q_v", "c.embedding")}, 6) AS cos
         |  FROM q JOIN embeddings c ON c.vec_id <> q_id),
         |b AS (SELECT q_id, n_id, t_rank FROM (SELECT q_id, n_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS t_rank
         |  FROM scored_b) WHERE t_rank <= $kk),
         |cents AS (SELECT vec_id AS c_id, embedding AS c_v
         |  FROM embeddings WHERE vec_id IN $centList),
         |cell_n AS (SELECT n_id, n_v, c_id AS cell FROM (
         |  SELECT e.vec_id AS n_id, e.embedding AS n_v, c.c_id,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cosSql("e.embedding", "c.c_v")} DESC, c.c_id) AS crank
         |  FROM embeddings e CROSS JOIN cents c) WHERE crank = 1),
         |probe_q AS (SELECT q_id, q_v, c_id AS cell FROM (
         |  SELECT e.vec_id AS q_id, e.embedding AS q_v, c.c_id,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cosSql("e.embedding", "c.c_v")} DESC, c.c_id) AS crank
         |  FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 10) WHERE crank <= 2),
         |scored_i AS (SELECT q_id, n_id, round(${cosSql("q_v", "n_v")}, 6) AS cos
         |  FROM cell_n JOIN probe_q USING (cell) WHERE q_id <> n_id),
         |iv AS (SELECT q_id, n_id, rank FROM (SELECT q_id, n_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
         |  FROM scored_i) WHERE rank <= $kk),
         |j AS (SELECT iv.q_id, iv.rank,
         |    CASE WHEN b.n_id IS NULL THEN 0.0 ELSE 1.0 END AS hit, b.t_rank
         |  FROM iv LEFT JOIN b USING (q_id, n_id)),
         |g AS (SELECT q_id,
         |    CAST(sum(CASE WHEN hit = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |    COALESCE(max(CASE WHEN t_rank = 1 THEN round(1.0 / rank, 6) END), 0.0) AS mrr,
         |    list_sum(list(hit * ($discSql)[rank] ORDER BY rank)) AS dcg_raw
         |  FROM j GROUP BY q_id)
         |SELECT q_id, n_hit, mrr,
         |  round(CASE WHEN n_hit > 0 THEN dcg_raw / ($idcgSql)[n_hit]
         |    ELSE 0.0 END, 6) AS ndcg
         |FROM g ORDER BY q_id""".stripMargin
    })

  /** MinHash-LSH EVALUATION: recall of the banded pipeline against
    * exact-Jaccard ground truth on a bounded probe sample (300 docs) — the dedup twin of q_ann_recall, measuring banding AND
    * estimation error end-to-end. Ground truth is integer-exact
    * (2·|A∩B| ≥ |A∪B| for tau=0.5, cross-multiplied); the sample bound
    * keeps the exact side O(sample²·setsize) at ANY corpus scale, while
    * the LSH side is the production operator restricted to the sample.
    * Docs under 3 tokens have empty shingle sets (J=0, never true
    * pairs) — both engines agree by construction. */
  val qLshRecall: Q = "q_lsh_recall" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val sample = docs.filter(col("doc_id") < 300)
        .select(col("doc_id").as("id"),
          array_distinct(Text.wordShingles(col("text"), 3)).as("g"))
      val a = sample.select(col("id").as("id_a"), col("g").as("ga"))
      val b = sample.select(col("id").as("id_b"), col("g").as("gb"))
      val truth = a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          size(array_intersect(col("ga"), col("gb"))).cast("long").as("inter"),
          size(array_union(col("ga"), col("gb"))).cast("long").as("un"))
        .filter(col("inter") * 2L >= col("un") && col("un") > 0L)
      val lsh = Dedup.minhashLsh(docs, tau = MH_TAU,
          shingleLen = 3, bands = MH_BANDS, rowsPerBand = MH_ROWS)
        .filter(col("id_a") < 300 && col("id_b") < 300)
        .select(col("id_a"), col("id_b"), lit(1L).as("hit"))
      truth.join(lsh, Seq("id_a", "id_b"), "left_outer")
        .select(col("id_a"), col("id_b"), col("inter"), col("un"),
          coalesce(col("hit"), lit(0L)).as("hit"))
        .orderBy(col("id_a"), col("id_b"))
    },
    s"""WITH src0 AS (SELECT doc_id AS id, text FROM documents),
       |${minhashPairsCtes("src0")},
       |smp AS (SELECT doc_id AS id,
       |    CASE WHEN len($TOKS) >= 3 THEN list_distinct(
       |      list_transform(range(1, len($TOKS) - 1),
       |        i -> array_to_string(($TOKS)[i:i+2], ' ')))
       |    ELSE [] END AS g
       |  FROM documents WHERE doc_id < 300),
       |truth AS (SELECT a.id AS id_a, b.id AS id_b,
       |    CAST(len(list_filter(a.g, x -> list_contains(b.g, x))) AS BIGINT) AS inter,
       |    CAST(len(a.g) + len(b.g)
       |      - len(list_filter(a.g, x -> list_contains(b.g, x))) AS BIGINT) AS un
       |  FROM smp a JOIN smp b ON a.id < b.id),
       |tp AS (SELECT * FROM truth WHERE inter * 2 >= un AND un > 0),
       |lsh AS (SELECT id_a, id_b, 1 AS hit FROM mh_pairs
       |  WHERE jaccard_est >= $MH_TAU AND id_a < 300 AND id_b < 300)
       |SELECT tp.id_a, tp.id_b, tp.inter, tp.un,
       |  CAST(COALESCE(lsh.hit, 0) AS BIGINT) AS hit
       |FROM tp LEFT JOIN lsh USING (id_a, id_b)
       |ORDER BY id_a, id_b""".stripMargin)

  /** Tokenizer EVALUATION: compression (fertility) per source — total
    * chars vs total BPE tokens under the stored merge table, plus
    * whitespace-token totals for reference. Two integer sums per group
    * (the caller divides): integer-exact, one aggregation over the
    * encode join. The per-domain fertility table is how a tokenizer's
    * fit to a corpus mix is actually judged. */
  val qBpeFertility: Q = "q_bpe_fertility" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val merges = graft.ops.Bpe
        .mergesStored(docs, k = 6, codebookPath(d, "bpe_merges"))
        .orderBy(col("rank"))
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      graft.ops.Bpe.tokenCountPerDoc(docs, merges)
        .join(docs.select(col("doc_id"), col("source"),
          Text.tokenLenSum(Text.tokens(col("text"))).as("n_chars_tok"),
          Text.tokenCount(col("text")).cast("long").as("n_ws_tokens")),
          Seq("doc_id"))
        .groupBy(col("source"))
        .agg(sum(col("n_chars_tok")).as("total_chars"),
          sum(col("n_bpe_tokens")).as("total_bpe_tokens"),
          sum(col("n_ws_tokens")).as("total_ws_tokens"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("source"))
    },
    s"""WITH RECURSIVE
       |${bpeOracleCtes(6)},
       |v AS MATERIALIZED (SELECT word, CAST(len(sym) AS BIGINT) AS n_tok
       |  FROM s6),
       |cnt AS (SELECT t.doc_id, CAST(sum(v.n_tok) AS BIGINT) AS n_bpe
       |  FROM t JOIN v USING (word) GROUP BY t.doc_id),
       |base AS (SELECT doc_id, source,
       |    CAST(COALESCE(list_sum(list_transform($TOKS, x -> length(x))), 0)
       |      AS BIGINT) AS n_chars_tok,
       |    CAST(len($TOKS) AS BIGINT) AS n_ws
       |  FROM documents)
       |SELECT source,
       |  CAST(sum(n_chars_tok) AS BIGINT) AS total_chars,
       |  CAST(sum(cnt.n_bpe) AS BIGINT) AS total_bpe_tokens,
       |  CAST(sum(n_ws) AS BIGINT) AS total_ws_tokens,
       |  CAST(count(*) AS BIGINT) AS n_docs
       |FROM base JOIN cnt USING (doc_id)
       |GROUP BY source ORDER BY source""".stripMargin)

  /** Curation FUNNEL observability: per-source counts of docs surviving
    * each stage — Gopher rules, then exact-dedup representative (min id
    * per fingerprint among rule survivors), then 5-gram
    * decontamination against a held-out eval slice (id%10=7). The
    * funnel rides FLAGS through the production operators' own shapes
    * (map-only rules, one fp window, one gram semi-join) and pays one
    * extra aggregation — not one extra pipeline run per stage, which is
    * how funnels are usually (wastefully) measured. Integer-exact. */
  val qCurationFunnel: Q = "q_curation_funnel" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val evalGrams = docs.filter(pmod(col("doc_id"), lit(10L)) === 7L)
        .select(explode(array_distinct(
          Text.wordShingles(col("text"), 5))).as("gram"))
        .distinct()
      val contam = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 7L)
        .select(col("doc_id"),
          explode(array_distinct(Text.wordShingles(col("text"), 5))).as("gram"))
        .join(evalGrams, Seq("gram"))
        .select(col("doc_id")).distinct()
        .withColumn("dirty", lit(1L))
      val base = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 7L)
        .select(col("doc_id"), col("source"),
          Text.fingerprint(col("text")).as("fp"))
        .join(gopherSignals(docs).select(col("doc_id"), col("keep")),
          Seq("doc_id"))
        .join(contam, Seq("doc_id"), "left_outer")
      val w = Window.partitionBy(col("fp"))
      base
        .withColumn("rep",
          min(when(col("keep") === 1L, col("doc_id"))).over(w))
        .withColumn("s1", col("keep"))
        .withColumn("s2",
          when(col("keep") === 1L && col("doc_id") === col("rep"), 1L)
            .otherwise(0L))
        .withColumn("s3",
          when(col("s2") === 1L && col("dirty").isNull, 1L).otherwise(0L))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"), sum(col("s1")).as("n_gopher"),
          sum(col("s2")).as("n_unique"), sum(col("s3")).as("n_clean"))
        .orderBy(col("source"))
    },
    s"""WITH $GOPHER_CTES,
       |eg AS (SELECT DISTINCT unnest(list_distinct(list_transform(
       |    range(1, len($TOKS) - 3), i -> array_to_string(($TOKS)[i:i+4], ' ')))) AS gram
       |  FROM documents WHERE doc_id % 10 = 7 AND len($TOKS) >= 5),
       |pg AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, len($TOKS) - 3), i -> array_to_string(($TOKS)[i:i+4], ' ')))) AS gram
       |  FROM documents WHERE doc_id % 10 <> 7 AND len($TOKS) >= 5),
       |dirty AS (SELECT DISTINCT pg.doc_id FROM pg JOIN eg USING (gram)),
       |base AS (SELECT d.doc_id, d.source, md5($NORM) AS fp,
       |    CASE WHEN $GOPHER_COND THEN 1 ELSE 0 END AS keep,
       |    CASE WHEN dirty.doc_id IS NOT NULL THEN 1 ELSE 0 END AS dirty
       |  FROM documents d
       |  JOIN gf ON gf.doc_id = d.doc_id
       |  LEFT JOIN dirty ON dirty.doc_id = d.doc_id
       |  WHERE d.doc_id % 10 <> 7),
       |rep AS (SELECT doc_id, source, keep, dirty,
       |    min(CASE WHEN keep = 1 THEN doc_id END) OVER (PARTITION BY fp) AS rep_id
       |  FROM base)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_total,
       |  CAST(sum(keep) AS BIGINT) AS n_gopher,
       |  CAST(sum(CASE WHEN keep = 1 AND doc_id = rep_id THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_unique,
       |  CAST(sum(CASE WHEN keep = 1 AND doc_id = rep_id AND dirty = 0
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
       |FROM rep GROUP BY source ORDER BY source""".stripMargin)

  /** LSH threshold TUNING curve: candidate-pair histogram by MinHash
    * signature agreement (matches/32), with the cumulative
    * pairs-at-or-above count — the table an operator reads to pick tau
    * before a dedup run (how many pairs each threshold admits). One
    * pass over the banded candidates into a histogram-sized output
    * (≤33 rows), integer-exact. */
  val qLshTune: Q = "q_lsh_tune" -> (
    (s: SparkSession, d: String) => {
      val k = MH_BANDS * MH_ROWS
      val hist = Dedup.minhashLsh(Tables.documents(s, d), tau = 0.0,
          shingleLen = 3, bands = MH_BANDS, rowsPerBand = MH_ROWS)
        .select(round(col("jaccard_est") * k).cast("long").as("n_match"))
        .groupBy(col("n_match")).agg(count(lit(1)).as("n_pairs"))
      hist.withColumn("n_at_or_above",
          sum(col("n_pairs")).over(Window.orderBy(col("n_match").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy(col("n_match"))
    },
    s"""WITH src0 AS (SELECT doc_id AS id, text FROM documents),
       |${minhashPairsCtes("src0")},
       |h AS (SELECT CAST(round(jaccard_est * ${MH_BANDS * MH_ROWS}) AS BIGINT)
       |    AS n_match, CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM mh_pairs GROUP BY 1)
       |SELECT n_match, n_pairs,
       |  CAST(sum(n_pairs) OVER (ORDER BY n_match DESC
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_at_or_above
       |FROM h ORDER BY n_match""".stripMargin)

  /** Orthogonal Procrustes embedding-space alignment
    * ([[graft.ops.Procrustes]]): the "new model" space is a planted
    * orthogonal map of the corpus embeddings (coordinate permutation
    * i → 7i mod 64 with alternating signs) plus a deterministic
    * integer-derived perturbation (±0.005/coordinate) — so the fitted
    * rotation must RECOVER the planted map and the per-vector residual
    * after alignment is perturbation-sized (≈0.02), far from both zero
    * and the rounding boundary. One moments pass fits R (train-once
    * store, the PCA-projector lifecycle); application is map-only
    * codegen'd dots. The oracle reads the STORED rotation and replays
    * alignment + residual + cosine with the same in-order double
    * folds. */
  val qProcrustes: Q = "q_procrustes" -> (
    (s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
      val withB = emb.select(col("vec_id"), col("embedding"),
        transform(sequence(lit(0), lit(63)), i =>
          element_at(col("embedding"), pmod(i * 7, lit(64)) + 1).cast("double")
            * when(pmod(i, lit(2)) === 0, lit(1.0)).otherwise(lit(-1.0))
            + (pmod(col("vec_id") * 37 + i * 101, lit(1000)).cast("double")
              / lit(100000.0) - lit(0.005))).as("b"))
      val r = graft.ops.Procrustes.fitStored(s, withB, "embedding", "b",
        dim = 64, path = codebookPath(d, "procrustes_rot"))
      graft.ops.Procrustes.align(withB, "embedding", r, "av")
        .select(col("vec_id"),
          round(sqrt(aggregate(
            zip_with(col("av"), col("b"), (x, y) => (x - y) * (x - y)),
            lit(0.0), _ + _)), 6).as("resid"),
          round(graft.functions.Vectors.cosine(col("av"), col("b")), 6)
            .as("cos_aligned"))
        .orderBy(col("vec_id"))
    },
    s"""WITH r AS (SELECT comp_id, vec
       |    FROM read_parquet('/root/repo/artifacts/procrustes_rot_${SF}/*.parquet')),
       |e AS (SELECT vec_id, embedding,
       |    list_transform(range(0, 64), i -> CAST(embedding[(i * 7) % 64 + 1] AS DOUBLE)
       |      * (CASE WHEN i % 2 = 0 THEN 1.0 ELSE -1.0 END)
       |      + ((vec_id * 37 + i * 101) % 1000) / 100000.0 - 0.005) AS b
       |  FROM embeddings),
       |al AS (SELECT e2.vec_id, list(
       |    list_sum(list_transform(range(1, 65),
       |      i -> CAST(e2.embedding[i] AS DOUBLE) * r.vec[i]))
       |    ORDER BY r.comp_id) AS av
       |  FROM e e2, r GROUP BY e2.vec_id)
       |SELECT e.vec_id,
       |  round(sqrt(list_sum(list_transform(range(1, 65),
       |    i -> (al.av[i] - e.b[i]) * (al.av[i] - e.b[i])))), 6) AS resid,
       |  round(${cosSql("al.av", "e.b")}, 6) AS cos_aligned
       |FROM e JOIN al ON al.vec_id = e.vec_id
       |ORDER BY e.vec_id""".stripMargin)

  // ------------------------------------------- PCA / embedding spectrum

  /** 8×8 upper-triangle block of the population covariance of the
    * embedding corpus, via the ONE-PASS [[graft.functions.expr.
    * VectorMoments]] native aggregate: the corpus scan ships one
    * ~17 KB (n, Σx, Σxxᵀ) summary per partition (map-side combine),
    * never a per-row outer-product explosion — the 100 TB covariance
    * shape. The driver-side eigensolve consumes the same moments
    * (PcaSpec pins the solver); this query hash-checks the moments
    * math against a DuckDB replay. */
  val qPcaCov: Q = "q_pca_cov" -> (
    (s: SparkSession, d: String) => {
      import s.implicits._
      val m = Tables.embeddings(s, d)
        .agg(graft.ops.Pca.moments(col("embedding"), 64).as("m"))
      val pairs = (for { i <- 0 until 8; j <- i until 8 } yield (i, j))
        .toDF("i", "j")
      pairs.crossJoin(m)
        .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
          round(
            element_at(col("m.ss"),
              expr("CAST(i * 64 - (i * (i - 1)) DIV 2 + (j - i) + 1 AS INT)"))
                / col("m.n")
              - (element_at(col("m.s"), expr("CAST(i + 1 AS INT)")) / col("m.n"))
                * (element_at(col("m.s"), expr("CAST(j + 1 AS INT)")) / col("m.n")),
            6).as("cov"))
        .orderBy(col("i"), col("j"))
    },
    """WITH idx AS (SELECT unnest(range(0, 8)) AS i),
      |p AS (SELECT a.i AS i, b.i AS j FROM idx a JOIN idx b ON a.i <= b.i),
      |c AS (SELECT p.i, p.j,
      |    avg(CAST(e.embedding[p.i + 1] AS DOUBLE) * CAST(e.embedding[p.j + 1] AS DOUBLE))
      |      - avg(CAST(e.embedding[p.i + 1] AS DOUBLE))
      |        * avg(CAST(e.embedding[p.j + 1] AS DOUBLE)) AS cov
      |  FROM p, embeddings e GROUP BY p.i, p.j)
      |SELECT i, j, round(cov, 6) AS cov FROM c ORDER BY i, j""".stripMargin)

  /** PCA-space ANN recall vs full-dimension truth: fit a 16-component
    * projector (train-once store, like the PQ codebooks), project the
    * corpus map-only (literal eigenvectors, codegen'd dots, mean
    * offset folded to a constant), brute top-10 in 16-d vs 64-d per
    * probe. The oracle reads the STORED projector parquet and replays
    * projection + both rankings + recall — same lifecycle as the
    * q_pq_ann codebook oracle; every dot is an in-order double fold on
    * both sides, so the hash matches exactly. Recall quantifies what
    * the 4× cheaper scan gives up (PcaSpec bounds it from below). */
  val qPcaRecall: Q = "q_pca_recall" -> (
    (s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
      val model = graft.ops.Pca.fitStored(s, emb, "embedding", dim = 64,
        k = 16, path = codebookPath(d, "pca_model"))
      val proj = graft.ops.Pca.project(emb, "embedding", model, "pvec")
      val pcaTop = Ann.bruteTopK(proj, proj.filter(col("vec_id") % 50 === 0),
        k = 10, vecCol = "pvec")
      val trueTop = Ann.bruteTopK(emb, emb.filter(col("vec_id") % 50 === 0),
        k = 10)
      trueTop.select(col("q_id"), col("n_id"))
        .join(pcaTop.select(col("q_id"), col("n_id")).withColumn("m", lit(1)),
          Seq("q_id", "n_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("m")).as("hits"))
        .select(col("q_id"), col("hits"),
          round(col("hits") / 10.0, 6).as("recall"))
        .orderBy(col("q_id"))
    }, {
      val dot16 =
        "list_sum(list_transform(range(1, 17), i -> a.pvec[i] * b.pvec[i]))"
      val n16 = (v: String) =>
        s"sqrt(list_sum(list_transform(range(1, 17), i -> $v.pvec[i] * $v.pvec[i])))"
      s"""WITH mrows AS (SELECT comp_id, vec
         |    FROM read_parquet('/root/repo/artifacts/pca_model_${SF}/*.parquet')),
         |mn AS (SELECT vec FROM mrows WHERE comp_id = -1),
         |comps AS (SELECT comp_id, mrows.vec,
         |    list_sum(list_transform(range(1, 65), i -> mrows.vec[i] * mn.vec[i])) AS off
         |  FROM mrows, mn WHERE comp_id >= 0),
         |p AS (SELECT e.vec_id, list(
         |    list_sum(list_transform(range(1, 65),
         |      i -> CAST(e.embedding[i] AS DOUBLE) * c.vec[i])) - c.off
         |    ORDER BY c.comp_id) AS pvec
         |  FROM embeddings e, comps c GROUP BY e.vec_id),
         |pr AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
         |    round(CASE WHEN ${n16("a")} * ${n16("b")} > 0
         |      THEN $dot16 / (${n16("a")} * ${n16("b")}) ELSE 0.0 END, 6) AS cos
         |  FROM p a JOIN p b ON a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id),
         |prk AS (SELECT q_id, n_id, row_number() OVER (
         |    PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk FROM pr),
         |tr AS (SELECT a.vec_id AS q_id, b.vec_id AS n_id,
         |    round(${cosSql("a.embedding", "b.embedding")}, 6) AS cos
         |  FROM embeddings a JOIN embeddings b
         |    ON a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id),
         |trk AS (SELECT q_id, n_id, row_number() OVER (
         |    PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk FROM tr)
         |SELECT t.q_id, CAST(count(p2.n_id) AS BIGINT) AS hits,
         |  round(count(p2.n_id) / 10.0, 6) AS recall
         |FROM (SELECT * FROM trk WHERE rk <= 10) t
         |LEFT JOIN (SELECT * FROM prk WHERE rk <= 10) p2
         |  ON p2.q_id = t.q_id AND p2.n_id = t.n_id
         |GROUP BY t.q_id ORDER BY t.q_id""".stripMargin
    })

  /** INCREMENTAL PCA — the append-store lifecycle on a linear model:
    * three corpus slices land their (n, Σx, Σxxᵀ) moments as separate
    * store rows (marker-idempotent per batch; earlier slices never
    * re-scanned) and the covariance refits from the row SUM. The
    * oracle is the FULL-CORPUS covariance replay (same SQL as
    * q_pca_cov): hash-matching it proves merged batch moments ≡ the
    * one-pass fit — additivity is the entire design, certified. */
  val qPcaIncremental: Q = "q_pca_incremental" -> (
    (s: SparkSession, d: String) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val store = codebookPath(d, "pca_moments")
      (0 until 3).foreach { b =>
        graft.ops.Pca.momentsStored(s, emb.filter(col("vec_id") % 3 === b),
          "embedding", dim = 64, path = store, batchTag = s"b$b")
      }
      val (n, sm, ss) = graft.ops.Pca.momentsOfStore(s, store, 64)
      val rows = for { i <- 0 until 8; j <- i until 8 } yield {
        val t = i * 64 - i * (i - 1) / 2 + (j - i)
        (i.toLong, j.toLong, ss(t) / n - (sm(i) / n) * (sm(j) / n))
      }
      rows.toDF("i", "j", "raw")
        .select(col("i"), col("j"), round(col("raw"), 6).as("cov"))
        .orderBy(col("i"), col("j"))
    },
    """WITH idx AS (SELECT unnest(range(0, 8)) AS i),
      |p AS (SELECT a.i AS i, b.i AS j FROM idx a JOIN idx b ON a.i <= b.i),
      |c AS (SELECT p.i, p.j,
      |    avg(CAST(e.embedding[p.i + 1] AS DOUBLE) * CAST(e.embedding[p.j + 1] AS DOUBLE))
      |      - avg(CAST(e.embedding[p.i + 1] AS DOUBLE))
      |        * avg(CAST(e.embedding[p.j + 1] AS DOUBLE)) AS cov
      |  FROM p, embeddings e GROUP BY p.i, p.j)
      |SELECT i, j, round(cov, 6) AS cov FROM c ORDER BY i, j""".stripMargin)

  /** Johnson-Lindenstrauss random projection ([[graft.functions.
    * Vectors.randomProject]]): (1/√k)·Rx with deterministic ±1 planes
    * — the train-free companion of the PCA projector (distance
    * preservation in expectation, no corpus pass). Map-only, k
    * codegen'd dots; the SAME plane literals inline into the oracle.
    * Bounded output: first 50 vectors × 8 components. */
  val qRandProj: Q = "q_rand_proj" -> (
    (s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d).filter(col("vec_id") < 50)
      val coords = graft.functions.Vectors
        .randomProject(col("embedding"), dim = 64, k = 8, seed = 7)
        .zipWithIndex.map { case (c, j) => round(c, 6).as(s"p$j") }
      emb.select(col("vec_id") +: coords: _*).orderBy(col("vec_id"))
    }, {
      val planes = graft.functions.Vectors.deterministicPlanes(64, 8, seed = 7)
      val scale = 1.0 / math.sqrt(8.0)
      val cols = planes.zipWithIndex.map { case (p, j) =>
        val lit = p.map(x => if (x > 0) "1.0" else "-1.0")
          .mkString("[", ",", "]")
        s"round(list_sum(list_transform(range(1, 65), i -> " +
          s"CAST(embedding[i] AS DOUBLE) * ($lit)[i])) * $scale, 6) AS p$j"
      }.mkString(",\n  ")
      s"""SELECT vec_id,
         |  $cols
         |FROM embeddings WHERE vec_id < 50 ORDER BY vec_id""".stripMargin
    })

  // ------------------------------- WordPiece tokenizer (greedy matcher)

  private val WP_MAXLEN = 4; private val WP_VOCAB = 200

  /** Shared vocab CTEs over `documents` → relation `v(piece, weight)`:
    * occurrence-weighted substring candidates (len ≤ 4), top-200 ∪ all
    * single chars — the DuckDB mirror of [[graft.ops.Wordpiece.vocab]].
    */
  private def wpVocabCtes: String =
    s"""wf AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest($TOKS) AS word FROM documents)
       |  WHERE length(word) >= 1 GROUP BY word),
       |cand AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS weight
       |  FROM (SELECT unnest(flatten(list_transform(range(1, length(word) + 1),
       |      s -> list_transform(range(1, least($WP_MAXLEN, length(word) - s + 1) + 1),
       |        l -> substr(word, CAST(s AS INT), CAST(l AS INT)))))) AS piece, freq
       |    FROM wf) GROUP BY piece),
       |topc AS (SELECT piece, weight FROM cand
       |  ORDER BY weight DESC, piece LIMIT $WP_VOCAB),
       |v AS MATERIALIZED (SELECT DISTINCT piece, weight FROM (
       |  SELECT piece, weight FROM topc
       |  UNION ALL
       |  SELECT piece, weight FROM cand WHERE length(piece) = 1))""".stripMargin

  /** WordPiece vocabulary seeding ([[graft.ops.Wordpiece]]): top-200
    * substring pieces by occurrence-weighted corpus frequency ∪ single
    * chars. The top-N is `orderBy.limit` (TakeOrderedAndProject:
    * distributed partial top-k, no single-partition window) — vocab
    * selection stays scale-safe when the candidate table is millions
    * of pieces. */
  val qWpVocab: Q = "q_wp_vocab" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Wordpiece.vocab(Tables.documents(s, d),
          maxLen = WP_MAXLEN, vocabSize = WP_VOCAB)
        .orderBy(col("piece")),
    s"""WITH ${wpVocabCtes}
       |SELECT piece, weight FROM v ORDER BY piece""".stripMargin)

  /** WordPiece ENCODE: greedy longest-match-first, fully relational —
    * the jump table (position → longest matching piece) is an ordinary
    * equi-join against the vocab (any vocab size; no literal map, no
    * UDF), and the greedy walk is one in-order `aggregate` fold over
    * each distinct word's step array. Documents never re-encode a
    * word: the vocab-sized word→count map broadcast-joins onto the
    * exploded corpus (the [[graft.ops.Bpe.tokenCountPerDoc]] shape).
    * The oracle replays the identical jump table + walk as a recursive
    * CTE; all-integer arithmetic → exact hash match. */
  val qWpEncode: Q = "q_wp_encode" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Wordpiece.tokenCountPerDocEndToEnd(
          Tables.documents(s, d), WP_MAXLEN, WP_VOCAB)
        .orderBy(col("doc_id")),
    s"""WITH RECURSIVE ${wpVocabCtes},
       |docw AS MATERIALIZED (SELECT doc_id, unnest($TOKS) AS word FROM documents),
       |w AS MATERIALIZED (SELECT DISTINCT word FROM docw WHERE length(word) >= 1),
       |ap AS MATERIALIZED (SELECT word, CAST(unnest(range(1, length(word) + 1)) AS INT) AS pos FROM w),
       |cnd AS (SELECT ap.word, ap.pos, CAST(ls.l AS INT) AS l,
       |    substr(ap.word, ap.pos, CAST(ls.l AS INT)) AS piece
       |  FROM ap, (SELECT unnest(range(1, $WP_MAXLEN + 1)) AS l) ls
       |  WHERE ap.pos + ls.l - 1 <= length(ap.word)),
       |jump AS MATERIALIZED (SELECT word, pos, max(l) AS step
       |  FROM cnd JOIN v USING (piece) GROUP BY word, pos),
       |walk(word, pos, n) AS (
       |  SELECT word, 1, 0 FROM w
       |  UNION ALL
       |  SELECT k.word, k.pos + COALESCE(j.step, 1), k.n + 1
       |  FROM walk k LEFT JOIN jump j ON j.word = k.word AND j.pos = k.pos
       |  WHERE k.pos <= length(k.word)),
       |wcount AS MATERIALIZED (SELECT word, n FROM walk
       |  WHERE pos = length(word) + 1)
       |SELECT f.doc_id, CAST(sum(c.n) AS BIGINT) AS n_wp_tokens
       |FROM docw f JOIN wcount c USING (word)
       |GROUP BY f.doc_id ORDER BY doc_id""".stripMargin)

  /** Unigram-LM tokenizer (SentencePiece default; [[graft.ops.
    * Unigram]]): 2 hard-EM rounds trained and stored once, then
    * per-doc Viterbi token counts — max-likelihood segmentation, ties
    * to the longer piece. The oracle reads the STORED score table and
    * replays the identical Viterbi DP as a recursive CTE carrying the
    * best-log-prob and piece-count lists; every DP value is the same
    * double-arithmetic chain on both sides, so counts hash-match
    * exactly. Completes the tokenizer trio (BPE merges / WordPiece
    * greedy / Unigram Viterbi) on one shared relational skeleton. */
  val qUnigramTokens: Q = "q_unigram_tokens" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val scores = graft.ops.Unigram.trainStored(s, docs,
        maxLen = WP_MAXLEN, vocabSize = WP_VOCAB, rounds = 2,
        path = codebookPath(d, "unigram_scores"))
      graft.ops.Unigram.tokenCountPerDoc(docs, scores, WP_MAXLEN)
        .orderBy(col("doc_id"))
    }, {
      val selv = """COALESCE(list_max(list_transform(c.lst,
        |      x -> k.best[k.e + 2 - x.l] + x.ls)), k.best[k.e + 1] - 20.0)""".stripMargin
      val sell = s"""COALESCE(list_max(list_transform(list_filter(c.lst,
        |      x -> k.best[k.e + 2 - x.l] + x.ls = ($selv)),
        |      x -> x.l)), 1)""".stripMargin
      s"""WITH RECURSIVE
         |sc AS MATERIALIZED (SELECT piece, ls
         |  FROM read_parquet('/root/repo/artifacts/unigram_scores_${SF}/*.parquet')),
         |docw AS MATERIALIZED (SELECT doc_id, unnest($TOKS) AS word FROM documents),
         |w AS MATERIALIZED (SELECT DISTINCT word FROM docw WHERE length(word) >= 1),
         |ap AS (SELECT word, CAST(unnest(range(1, length(word) + 1)) AS INT) AS pos FROM w),
         |cnd AS MATERIALIZED (
         |  SELECT t.word, CAST(t.pos + t.l - 1 AS INT) AS e, CAST(t.l AS INT) AS l, sc.ls
         |  FROM (SELECT ap.word, ap.pos, lz.l,
         |        substr(ap.word, ap.pos, CAST(lz.l AS INT)) AS piece
         |      FROM ap, (SELECT unnest(range(1, $WP_MAXLEN + 1)) AS l) lz
         |      WHERE ap.pos + lz.l - 1 <= length(ap.word)) t
         |  JOIN sc ON sc.piece = t.piece),
         |cbe AS MATERIALIZED (SELECT word, e,
         |    list(struct_pack(l := l, ls := ls)) AS lst
         |  FROM cnd GROUP BY word, e),
         |walk(word, e, best, cnt) AS (
         |  SELECT word, 0, [CAST(0.0 AS DOUBLE)], [CAST(0 AS BIGINT)] FROM w
         |  UNION ALL
         |  SELECT k.word, k.e + 1,
         |    list_append(k.best, $selv),
         |    list_append(k.cnt, k.cnt[k.e + 2 - ($sell)] + 1)
         |  FROM walk k LEFT JOIN cbe c ON c.word = k.word AND c.e = k.e + 1
         |  WHERE k.e < length(k.word)),
         |wc AS MATERIALIZED (SELECT word, cnt[length(word) + 1] AS n
         |  FROM walk WHERE e = length(word))
         |SELECT f.doc_id, CAST(sum(c2.n) AS BIGINT) AS n_unigram_tokens
         |FROM docw f JOIN wc c2 USING (word)
         |GROUP BY f.doc_id ORDER BY doc_id""".stripMargin
    })

  /** Tokenizer-trio CROSS-VALIDATION — the standard data-card table
    * comparing the three trained tokenizers (BPE merges / WordPiece
    * greedy / Unigram Viterbi) on ONE corpus: per tokenizer, total
    * token count, fertility (tokens per whitespace word), and
    * compression (chars per token). All three per-doc count tables are
    * individually oracle-verified (q_bpe_encode / q_wp_encode /
    * q_unigram_tokens); this query pins their RELATIVE behavior so a
    * regression in any one trainer shows up as a shifted ratio even if
    * its own query happens to still pass. Each tokenization is one
    * corpus-touched-once pipeline (distinct-word table + model
    * broadcast); the totals are three scalar aggregates — the extra
    * cost over running the three encoders is one 3-row union. The
    * oracle nests each tokenizer's existing recursive-CTE replay in
    * its own scoped subquery (names stay local), so the three DPs
    * cannot collide. */
  val qTokenizerCard: Q = "q_tokenizer_card" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val merges = graft.ops.Bpe
        .mergesStored(docs, k = 6, codebookPath(d, "bpe_merges"))
        .orderBy(col("rank"))
        .collect().map(r => (r.getString(1), r.getString(2))).toSeq
      val scores = graft.ops.Unigram.trainStored(s, docs,
        maxLen = WP_MAXLEN, vocabSize = WP_VOCAB, rounds = 2,
        path = codebookPath(d, "unigram_scores"))
      val base = docs.agg(
        sum(Text.tokenLenSum(Text.tokens(col("text")))).as("chars"),
        sum(Text.tokenCount(col("text")).cast("long")).as("ws"))
      def card(namev: String, perDoc: DataFrame, cnt: String): DataFrame =
        perDoc.agg(sum(col(cnt)).as("n")).crossJoin(base)
          .select(lit(namev).as("tokenizer"),
            col("n").as("total_tokens"),
            round(col("n") / col("ws").cast("double"), 6).as("fertility"),
            round(col("chars") / col("n").cast("double"), 6).as("chars_per_token"))
      card("bpe", graft.ops.Bpe.tokenCountPerDoc(docs, merges), "n_bpe_tokens")
        .unionAll(card("unigram",
          graft.ops.Unigram.tokenCountPerDoc(docs, scores, WP_MAXLEN),
          "n_unigram_tokens"))
        .unionAll(card("wordpiece",
          graft.ops.Wordpiece.tokenCountPerDocEndToEnd(docs, WP_MAXLEN, WP_VOCAB),
          "n_wp_tokens"))
        .orderBy(col("tokenizer"))
    }, {
      val selv = """COALESCE(list_max(list_transform(c.lst,
        |      x -> k.best[k.e + 2 - x.l] + x.ls)), k.best[k.e + 1] - 20.0)""".stripMargin
      val sell = s"""COALESCE(list_max(list_transform(list_filter(c.lst,
        |      x -> k.best[k.e + 2 - x.l] + x.ls = ($selv)),
        |      x -> x.l)), 1)""".stripMargin
      s"""WITH
         |bpe AS MATERIALIZED (
         |  WITH RECURSIVE ${bpeOracleCtes(6)},
         |  v AS (SELECT word, CAST(len(sym) AS BIGINT) AS n_tok FROM s6)
         |  SELECT CAST(sum(v.n_tok) AS BIGINT) AS n FROM t JOIN v USING (word)),
         |wp AS MATERIALIZED (
         |  WITH RECURSIVE ${wpVocabCtes},
         |docw AS MATERIALIZED (SELECT doc_id, unnest($TOKS) AS word FROM documents),
         |w AS MATERIALIZED (SELECT DISTINCT word FROM docw WHERE length(word) >= 1),
         |ap AS MATERIALIZED (SELECT word, CAST(unnest(range(1, length(word) + 1)) AS INT) AS pos FROM w),
         |cnd AS (SELECT ap.word, ap.pos, CAST(ls.l AS INT) AS l,
         |    substr(ap.word, ap.pos, CAST(ls.l AS INT)) AS piece
         |  FROM ap, (SELECT unnest(range(1, $WP_MAXLEN + 1)) AS l) ls
         |  WHERE ap.pos + ls.l - 1 <= length(ap.word)),
         |jump AS MATERIALIZED (SELECT word, pos, max(l) AS step
         |  FROM cnd JOIN v USING (piece) GROUP BY word, pos),
         |walk(word, pos, n) AS (
         |  SELECT word, 1, 0 FROM w
         |  UNION ALL
         |  SELECT k.word, k.pos + COALESCE(j.step, 1), k.n + 1
         |  FROM walk k LEFT JOIN jump j ON j.word = k.word AND j.pos = k.pos
         |  WHERE k.pos <= length(k.word)),
         |wcount AS MATERIALIZED (SELECT word, n FROM walk
         |  WHERE pos = length(word) + 1)
         |  SELECT CAST(sum(c.n) AS BIGINT) AS n
         |  FROM docw f JOIN wcount c USING (word)),
         |ug AS MATERIALIZED (
         |  WITH RECURSIVE
         |sc AS MATERIALIZED (SELECT piece, ls
         |  FROM read_parquet('/root/repo/artifacts/unigram_scores_${SF}/*.parquet')),
         |docw AS MATERIALIZED (SELECT doc_id, unnest($TOKS) AS word FROM documents),
         |w AS MATERIALIZED (SELECT DISTINCT word FROM docw WHERE length(word) >= 1),
         |ap AS (SELECT word, CAST(unnest(range(1, length(word) + 1)) AS INT) AS pos FROM w),
         |cnd AS MATERIALIZED (
         |  SELECT t.word, CAST(t.pos + t.l - 1 AS INT) AS e, CAST(t.l AS INT) AS l, sc.ls
         |  FROM (SELECT ap.word, ap.pos, lz.l,
         |        substr(ap.word, ap.pos, CAST(lz.l AS INT)) AS piece
         |      FROM ap, (SELECT unnest(range(1, $WP_MAXLEN + 1)) AS l) lz
         |      WHERE ap.pos + lz.l - 1 <= length(ap.word)) t
         |  JOIN sc ON sc.piece = t.piece),
         |cbe AS MATERIALIZED (SELECT word, e,
         |    list(struct_pack(l := l, ls := ls)) AS lst
         |  FROM cnd GROUP BY word, e),
         |walk(word, e, best, cnt) AS (
         |  SELECT word, 0, [CAST(0.0 AS DOUBLE)], [CAST(0 AS BIGINT)] FROM w
         |  UNION ALL
         |  SELECT k.word, k.e + 1,
         |    list_append(k.best, $selv),
         |    list_append(k.cnt, k.cnt[k.e + 2 - ($sell)] + 1)
         |  FROM walk k LEFT JOIN cbe c ON c.word = k.word AND c.e = k.e + 1
         |  WHERE k.e < length(k.word)),
         |wc AS MATERIALIZED (SELECT word, cnt[length(word) + 1] AS n
         |  FROM walk WHERE e = length(word))
         |  SELECT CAST(sum(c2.n) AS BIGINT) AS n
         |  FROM docw f JOIN wc c2 USING (word)),
         |base AS (SELECT
         |    CAST(sum(COALESCE(list_sum(list_transform($TOKS, x -> length(x))), 0)) AS BIGINT) AS chars,
         |    CAST(sum(len($TOKS)) AS BIGINT) AS ws
         |  FROM documents)
         |SELECT * FROM (
         |  SELECT 'bpe' AS tokenizer, bpe.n AS total_tokens,
         |    round(bpe.n / CAST(base.ws AS DOUBLE), 6) AS fertility,
         |    round(base.chars / CAST(bpe.n AS DOUBLE), 6) AS chars_per_token
         |  FROM bpe, base
         |  UNION ALL
         |  SELECT 'unigram', ug.n,
         |    round(ug.n / CAST(base.ws AS DOUBLE), 6),
         |    round(base.chars / CAST(ug.n AS DOUBLE), 6)
         |  FROM ug, base
         |  UNION ALL
         |  SELECT 'wordpiece', wp.n,
         |    round(wp.n / CAST(base.ws AS DOUBLE), 6),
         |    round(base.chars / CAST(wp.n AS DOUBLE), 6)
         |  FROM wp, base)
         |ORDER BY tokenizer""".stripMargin
    })

  // -------------------------------------- curriculum / training order

  /** Per-doc n-gram NOVELTY vs the corpus prefix (first-seen fraction
    * of the doc's distinct bigram set, corpus ordered by doc_id) — the
    * "is this document new information" curriculum signal. One
    * gram-keyed exchange; never all-pairs
    * ([[graft.ops.Curriculum.novelty]]). */
  val qNovelty: Q = "q_novelty" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Curriculum.novelty(Tables.documents(s, d), n = 2)
        .orderBy(col("doc_id")),
    s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
       |dg AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' ')))) AS gram
       |  FROM t),
       |fo AS (SELECT gram, min(doc_id) AS first_doc FROM dg GROUP BY gram)
       |SELECT d.doc_id,
       |  CAST(sum(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS novel_grams,
       |  CAST(count(*) AS BIGINT) AS total_grams,
       |  round(CAST(sum(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
       |    / count(*), 6) AS novelty
       |FROM dg d JOIN fo f USING (gram)
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin)

  /** Source-interleaved curriculum order: rank within source by
    * quality, then `position = (rank−1)·S + src_idx` — ARITHMETIC
    * interleave, no global row_number/total sort; every training-order
    * prefix carries the same source mix
    * ([[graft.ops.Curriculum.interleavedOrder]]). */
  val qCurriculum: Q = "q_curriculum" -> (
    (s: SparkSession, d: String) => {
      val sc = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          Text.qualityScore(col("text")).as("quality"))
      graft.ops.Curriculum.interleavedOrder(sc, "source", "quality")
        .orderBy(col("position"))
    },
    s"""WITH sc AS (SELECT doc_id, source, round(
       |    LEAST(len($TOKS) / CAST(100.0 AS DOUBLE), CAST(1.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE)
       |    + (CAST(1.0 AS DOUBLE) - length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / GREATEST(length(text), 1)) * CAST(0.2 AS DOUBLE)
       |    + length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / GREATEST(length(text), 1) * CAST(0.2 AS DOUBLE)
       |    + len(list_distinct($TOKS)) / GREATEST(len($TOKS), 1) * CAST(0.2 AS DOUBLE), 6) AS quality
       |  FROM documents),
       |si AS (SELECT source, row_number() OVER (ORDER BY source) - 1 AS src_idx
       |  FROM (SELECT DISTINCT source FROM documents)),
       |ns AS (SELECT count(*) AS s FROM si),
       |rk AS (SELECT doc_id, source, quality, row_number() OVER (
       |    PARTITION BY source ORDER BY quality DESC, doc_id) AS rank FROM sc)
       |SELECT r.doc_id, r.source, r.quality, CAST(r.rank AS BIGINT) AS rank,
       |  CAST((r.rank - 1) * ns.s + si.src_idx AS BIGINT) AS position
       |FROM rk r JOIN si USING (source), ns ORDER BY position""".stripMargin)

  // ------------------------- local fingerprints / content-defined chunks

  /** Winnowed fingerprint postings (Schleimer et al., SIGMOD 2003;
    * [[graft.ops.Fingerprints.winnow]]): min k-gram hash per sliding
    * window of w — a ~1/w-size shingle set with a DETECTION GUARANTEE
    * (any shared run ≥ w+k−1 tokens shares a fingerprint), unlike
    * MinHash's probabilistic recall. Map-only per-row selection; the
    * postings are the sparse input every overlap join downstream
    * consumes. */
  val qWinnow: Q = "q_winnow" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Fingerprints.winnow(Tables.documents(s, d), k = 3, w = 4)
        .orderBy(col("id"), col("fp")),
    s"""WITH t AS (SELECT doc_id AS id, $TOKS AS toks FROM documents),
       |s AS (SELECT id, list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
       |    i -> CAST('0x' || substr(md5('11' || array_to_string(toks[i:i+2], ' ')), 1, 15) AS BIGINT)) AS sh
       |  FROM t),
       |w AS (SELECT id, list_sort(list_distinct(list_transform(
       |    range(1, greatest(len(sh) - 3, 0) + 1), i -> list_min(sh[i:i+3])))) AS fps
       |  FROM s)
       |SELECT id, unnest(fps) AS fp FROM w ORDER BY id, fp""".stripMargin)

  /** Overlap pairs over winnowed fingerprints
    * ([[graft.ops.Fingerprints.winnowPairs]]): postings self-join with
    * the df-cap prune (boilerplate fingerprints dropped BEFORE the
    * join, df=1 can't witness a pair) — per-key fan-out ≤ dfCap², the
    * n-gram postings family's plan-time bound, on a postings table
    * winnowing already shrank ~4×. */
  val qWinnowPairs: Q = "q_winnow_pairs" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Fingerprints.winnowPairs(Tables.documents(s, d),
        k = 3, w = 4, minShared = 2, dfCap = 50)
        .orderBy(col("id_a"), col("id_b")),
    s"""WITH t AS (SELECT doc_id AS id, $TOKS AS toks FROM documents),
       |s AS (SELECT id, list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
       |    i -> CAST('0x' || substr(md5('11' || array_to_string(toks[i:i+2], ' ')), 1, 15) AS BIGINT)) AS sh
       |  FROM t),
       |f AS (SELECT id, unnest(list_distinct(list_transform(
       |    range(1, greatest(len(sh) - 3, 0) + 1), i -> list_min(sh[i:i+3])))) AS fp
       |  FROM s),
       |ok AS (SELECT fp FROM f GROUP BY fp HAVING count(*) BETWEEN 2 AND 50),
       |p AS (SELECT fp, id FROM f JOIN ok USING (fp))
       |SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
       |FROM p a JOIN p b ON a.fp = b.fp AND a.id < b.id
       |GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY id_a, id_b""".stripMargin)

  /** Content-defined chunking ([[graft.ops.Fingerprints.cdcChunks]]):
    * Rabin-style boundaries (k-gram hash ≡ 0 mod divisor) so an edit
    * reshapes only its own chunk — chunk hashes away from the edit are
    * stable, the property fixed-width chunking lacks and chunk-level
    * dedup needs. Single projection + posexplode; expected chunk ≈ 16
    * tokens. */
  val qCdcChunks: Q = "q_cdc_chunks" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Fingerprints.cdcChunks(Tables.documents(s, d),
        k = 3, divisor = 16)
        .orderBy(col("id"), col("chunk_idx")),
    s"""WITH t AS (SELECT doc_id AS id, $TOKS AS toks FROM documents),
       |s AS (SELECT id, toks, list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
       |    i -> CAST('0x' || substr(md5('13' || array_to_string(toks[i:i+2], ' ')), 1, 15) AS BIGINT)) AS sh
       |  FROM t),
       |b AS (SELECT id, toks, list_filter(list_transform(range(1, len(sh) + 1),
       |    i -> CASE WHEN sh[i] % 16 = 0 THEN i + 2 END),
       |    j -> j IS NOT NULL AND j < len(toks)) AS bends
       |  FROM s),
       |c AS (SELECT id, toks,
       |    list_prepend(1, list_transform(bends, x -> x + 1)) AS starts,
       |    list_append(bends, len(toks)) AS ends
       |  FROM b),
       |x AS (SELECT id, starts, ends,
       |    list_transform(range(1, len(starts) + 1), i ->
       |      CAST('0x' || substr(md5('17' ||
       |        array_to_string(toks[starts[i]:ends[i]], ' ')), 1, 15) AS BIGINT)) AS hs
       |  FROM c)
       |SELECT id, CAST(unnest(range(1, len(starts) + 1)) - 1 AS BIGINT) AS chunk_idx,
       |  CAST(unnest(starts) AS BIGINT) AS start_tok,
       |  CAST(unnest(list_transform(range(1, len(starts) + 1),
       |    i -> ends[i] - starts[i] + 1)) AS BIGINT) AS n_toks,
       |  unnest(hs) AS chunk_hash
       |FROM x ORDER BY id, chunk_idx""".stripMargin)

  /** Winnowed-fingerprint STORE lifecycle
    * ([[graft.ops.Fingerprints.winnowStored]] /
    * [[graft.ops.Fingerprints.winnowIncremental]]): even docs are the
    * posted corpus (written once), odd docs the probe batch — only the
    * batch is tokenized; the corpus side is a postings read with the
    * df cap applied to STORED fingerprints. Deterministic selection ⇒
    * store-served pairs ≡ inline, so the oracle is one union-wide
    * computation. */
  val qWinnowStored: Q = "q_winnow_stored" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val store = codebookPath(d, "winnow_fps")
      graft.ops.Fingerprints.winnowStored(
        docs.filter(col("doc_id") % 2 === 0), store, k = 3, w = 4)
      graft.ops.Fingerprints.winnowIncremental(
        docs.filter(col("doc_id") % 2 === 1), store,
        minShared = 2, dfCap = 50, k = 3, w = 4)
        .orderBy(col("corpus_id"), col("probe_id"))
    },
    s"""WITH t AS (SELECT doc_id AS id, $TOKS AS toks FROM documents),
       |s AS (SELECT id, list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
       |    i -> CAST('0x' || substr(md5('11' || array_to_string(toks[i:i+2], ' ')), 1, 15) AS BIGINT)) AS sh
       |  FROM t),
       |f AS (SELECT id, unnest(list_distinct(list_transform(
       |    range(1, greatest(len(sh) - 3, 0) + 1), i -> list_min(sh[i:i+3])))) AS fp
       |  FROM s),
       |corp AS (SELECT fp, id AS corpus_id FROM f WHERE id % 2 = 0),
       |ok AS (SELECT fp FROM corp GROUP BY fp HAVING count(*) <= 50),
       |pr AS (SELECT fp, id AS probe_id FROM f WHERE id % 2 = 1)
       |SELECT c.corpus_id, p.probe_id, count(*) AS n_shared
       |FROM corp c JOIN ok USING (fp) JOIN pr p ON p.fp = c.fp
       |GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY corpus_id, probe_id""".stripMargin)

  /** Chunk-level dedup mass over CDC chunks
    * ([[graft.ops.Fingerprints.cdcDupMass]]): per doc, the token
    * fraction living in chunks shared with ANOTHER doc — the
    * storage-dedup view of corpus redundancy, edit-robust because the
    * chunk boundaries are content-defined. */
  val qCdcDedup: Q = "q_cdc_dedup" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Fingerprints.cdcDupMass(Tables.documents(s, d),
        k = 3, divisor = 16)
        .orderBy(col("id")),
    s"""WITH t AS (SELECT doc_id AS id, $TOKS AS toks FROM documents),
       |s AS (SELECT id, toks, list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
       |    i -> CAST('0x' || substr(md5('13' || array_to_string(toks[i:i+2], ' ')), 1, 15) AS BIGINT)) AS sh
       |  FROM t),
       |b AS (SELECT id, toks, list_filter(list_transform(range(1, len(sh) + 1),
       |    i -> CASE WHEN sh[i] % 16 = 0 THEN i + 2 END),
       |    j -> j IS NOT NULL AND j < len(toks)) AS bends
       |  FROM s),
       |c AS (SELECT id, toks,
       |    list_prepend(1, list_transform(bends, x -> x + 1)) AS starts,
       |    list_append(bends, len(toks)) AS ends
       |  FROM b),
       |ch AS (SELECT id,
       |    CAST(unnest(list_transform(range(1, len(starts) + 1),
       |      i -> ends[i] - starts[i] + 1)) AS BIGINT) AS n_toks,
       |    unnest(list_transform(range(1, len(starts) + 1), i ->
       |      CAST('0x' || substr(md5('17' ||
       |        array_to_string(toks[starts[i]:ends[i]], ' ')), 1, 15) AS BIGINT))) AS chunk_hash
       |  FROM c),
       |sh2 AS (SELECT chunk_hash FROM ch GROUP BY chunk_hash
       |  HAVING min(id) <> max(id))
       |SELECT ch.id, CAST(sum(ch.n_toks) AS BIGINT) AS total_toks,
       |  CAST(COALESCE(sum(CASE WHEN s2.chunk_hash IS NOT NULL
       |    THEN ch.n_toks END), 0) AS BIGINT) AS dup_toks,
       |  round(COALESCE(sum(CASE WHEN s2.chunk_hash IS NOT NULL
       |    THEN ch.n_toks END), 0) / CAST(sum(ch.n_toks) AS DOUBLE), 6) AS dup_frac
       |FROM ch LEFT JOIN sh2 s2 USING (chunk_hash)
       |GROUP BY ch.id ORDER BY ch.id""".stripMargin)

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): per-LANGUAGE
    * head/middle/tail terciles of bigram-LM fluency — the standard
    * "keep the head, audit the middle, drop the tail" curation gate.
    * Scoring is the map-only [[graft.ops.TextStats.bigramScores]] path;
    * the tercile is one per-lang window rank (tie-broken by id for a
    * total order). At 100 TB the window becomes per-lang cutpoints from
    * approx quantiles (driver-sized: 2 numbers per language) broadcast
    * into a map-only bucket — the exact-ntile form here is the
    * oracle-checkable equivalent. */
  val qPplBuckets: Q = "q_ppl_buckets" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val model = graft.ops.TextStats.bigramModel(docs, vocabSize = 500)
      val scored = graft.ops.TextStats.bigramScores(docs, model)
        .select(col("id"), col("mean_cond_prob"))
      val withLang = scored.join(
        docs.select(col("doc_id").as("id"), col("lang")), "id")
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("mean_cond_prob").desc, col("id"))
      withLang
        .select(col("id"), col("lang"), col("mean_cond_prob"),
          when(ntile(3).over(w) === 1, "head")
            .when(ntile(3).over(w) === 2, "middle")
            .otherwise("tail").as("bucket"))
        .orderBy(col("id"))
    },
    s"""WITH t AS (SELECT doc_id AS id, $TOKS AS toks FROM documents),
       |bg AS (SELECT id, list_transform(range(1, len(toks)),
       |    i -> toks[i] || ' ' || toks[i+1]) AS bgs
       |  FROM t WHERE len(toks) >= 2),
       |flat AS (SELECT id, unnest(bgs) AS b,
       |    generate_subscripts(bgs, 1) AS pos FROM bg),
       |bcnt AS (SELECT b, count(*) AS c FROM flat GROUP BY 1),
       |vocab AS (SELECT b, c FROM bcnt ORDER BY c DESC, b ASC LIMIT 500),
       |pfx AS (SELECT split_part(b, ' ', 1) AS w, CAST(sum(c) AS BIGINT) AS c
       |  FROM bcnt GROUP BY 1),
       |model AS (SELECT v.b, CAST(v.c AS DOUBLE) / p.c AS p
       |  FROM vocab v JOIN pfx p ON p.w = split_part(v.b, ' ', 1)),
       |pt AS (SELECT f.id, f.pos, COALESCE(m.p, 0.0) AS p
       |  FROM flat f LEFT JOIN model m USING (b)),
       |agg AS (SELECT id, count(*) AS n_bigrams,
       |    list_sum(list(p ORDER BY pos)) AS sp FROM pt GROUP BY id),
       |sc AS (SELECT a.id, d.lang, round(sp / n_bigrams, 6) AS mean_cond_prob
       |  FROM agg a JOIN documents d ON d.doc_id = a.id)
       |SELECT id, lang, mean_cond_prob,
       |  CASE ntile(3) OVER (PARTITION BY lang ORDER BY mean_cond_prob DESC, id)
       |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
       |FROM sc ORDER BY id""".stripMargin)

  // ------------------------------- round 8: basket / attribution / overlap

  /** Market-basket frequent pairs over order line items ([[graft.ops.
    * Baskets.frequentPairs]]): which parts are co-ordered, with lift.
    * The A-Priori prune (both items individually frequent) bounds the
    * basket self-join the way the df cap bounds the n-gram one; TPC-H
    * baskets are ≤ 7 items, so no hot-basket guard needed here (the
    * operator carries one for degenerate corpora). */
  val qCopurchase: Q = "q_copurchase" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Baskets.frequentPairs(
          Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
          "l_orderkey", "l_partkey", minItemSupport = 5, minPairSupport = 2)
        .orderBy(col("item_a"), col("item_b")),
    """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
      |f AS (SELECT item, CAST(count(*) AS BIGINT) AS supp FROM b
      |  GROUP BY 1 HAVING count(*) >= 5),
      |fb AS (SELECT b.basket, b.item, f.supp FROM b JOIN f USING (item)),
      |n AS (SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n_baskets FROM b),
      |p AS (SELECT x.item AS item_a, y.item AS item_b,
      |    x.supp AS supp_a, y.supp AS supp_b, CAST(count(*) AS BIGINT) AS support
      |  FROM fb x JOIN fb y ON x.basket = y.basket AND x.item < y.item
      |  GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2)
      |SELECT item_a, item_b, support, supp_a, supp_b,
      |  round(CAST(support AS DOUBLE) * n_baskets
      |    / (CAST(supp_a AS DOUBLE) * supp_b), 6) AS lift
      |FROM p, n ORDER BY item_a, item_b""".stripMargin)

  /** First-order Markov transition matrix over each user's event
    * sequence: one lead window per user (partition size = one user's
    * history, the documented event-family bound), then a states²-sized
    * aggregate; the row-probability normalizer is a window over that
    * TINY matrix, never the corpus. */
  val qTransitions: Q = "q_transitions" -> (
    (s: SparkSession, d: String) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val pairs = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
      pairs
        .withColumn("prob", round(col("n") / sum(col("n"))
          .over(Window.partitionBy(col("event_type"))).cast("double"), 6))
        .orderBy(col("event_type"), col("next_type"))
    },
    s"""WITH $EV,
       |nx AS (SELECT event_type, lead(event_type) OVER (
       |    PARTITION BY user_id ORDER BY ts_us, event_id) AS next_type
       |  FROM ev),
       |m AS (SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
       |  FROM nx WHERE next_type IS NOT NULL GROUP BY 1, 2)
       |SELECT event_type, next_type, n,
       |  round(n / CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE), 6) AS prob
       |FROM m ORDER BY event_type, next_type""".stripMargin)

  /** LAST-TOUCH attribution: each purchase credits the user's most
    * recent preceding non-purchase event. One ignore-nulls last_value
    * window per user (constant partition size), then a touch-type-sized
    * aggregate; revenue sums in DECIMAL so the total is order-free
    * exact (the q1_agg convention). */
  val qAttribution: Q = "q_attribution" -> (
    (s: SparkSession, d: String) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("event_type"), col("value"))
        .withColumn("touch", last(
          when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch"), lit("none")).as("touch"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(dec(col("value"))).cast("double").as("revenue"))
        .orderBy(col("touch"))
    },
    s"""WITH $EV,
       |t AS (SELECT event_type, value, last_value(
       |    CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
       |    OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
       |  FROM ev)
       |SELECT COALESCE(touch, 'none') AS touch,
       |  CAST(count(*) AS BIGINT) AS n_purchases,
       |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       |FROM t WHERE event_type = 'purchase'
       |GROUP BY 1 ORDER BY touch""".stripMargin)

  /** Per-user-day OHLC resample of the event value — the time-series
    * downsample shape: open/close are argmin/argmax SELECTIONS on the
    * (ts, event_id) order (never a sort), high/low plain min/max — all
    * order-free single-pass aggregates, O(1) state per (user, day). */
  val qOhlc: Q = "q_ohlc" -> (
    (s: SparkSession, d: String) => {
      val dayUs = 86400000000L
      Tables.events(s, d)
        .groupBy(col("user_id"), expr(s"ts_us DIV $dayUs").as("day"))
        .agg(
          min_by(col("value"), struct(col("ts_us"), col("event_id"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), struct(col("ts_us"), col("event_id"))).as("close"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"), col("day"))
    },
    s"""WITH $EV,
       |o AS (SELECT user_id, ts_us // ${86400000000L} AS day, value,
       |    row_number() OVER (PARTITION BY user_id, ts_us // ${86400000000L}
       |      ORDER BY ts_us, event_id) AS rn_a,
       |    row_number() OVER (PARTITION BY user_id, ts_us // ${86400000000L}
       |      ORDER BY ts_us DESC, event_id DESC) AS rn_d
       |  FROM ev)
       |SELECT user_id, day,
       |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
       |  max(value) AS high, min(value) AS low,
       |  max(CASE WHEN rn_d = 1 THEN value END) AS close,
       |  CAST(count(*) AS BIGINT) AS n_events
       |FROM o GROUP BY 1, 2 ORDER BY user_id, day""".stripMargin)

  /** Pairwise VOCABULARY OVERLAP matrix across sources (Jaccard over
    * distinct-token sets) — the corpus-comparison companion of
    * q_corpus_drift's distributional distance. The term self-join's
    * per-key fan-out is ≤ sources² (a token row exists once per source
    * after the distinct), so the join is bounded by the SOURCE count,
    * not the corpus — no df cap needed. */
  val qSourceOverlap: Q = "q_source_overlap" -> (
    (s: SparkSession, d: String) => {
      val st = Tables.documents(s, d)
        .select(col("source"), explode(Text.tokens(col("text"))).as("term"))
        .distinct()
      val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("nv"))
      st.as("a").join(st.as("b"),
          col("a.term") === col("b.term") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_common"))
        .join(sizes.select(col("source").as("src_a"), col("nv").as("nv_a")), "src_a")
        .join(sizes.select(col("source").as("src_b"), col("nv").as("nv_b")), "src_b")
        .select(col("src_a"), col("src_b"), col("nv_a"), col("nv_b"), col("n_common"),
          round(col("n_common")
            / (col("nv_a") + col("nv_b") - col("n_common")).cast("double"), 6)
            .as("jaccard"))
        .orderBy(col("src_a"), col("src_b"))
    },
    s"""WITH st AS (SELECT DISTINCT source, unnest($TOKS) AS term FROM documents),
       |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS nv FROM st GROUP BY 1),
       |c AS (SELECT a.source AS src_a, b.source AS src_b,
       |    CAST(count(*) AS BIGINT) AS n_common
       |  FROM st a JOIN st b ON a.term = b.term AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT src_a, src_b, za.nv AS nv_a, zb.nv AS nv_b, n_common,
       |  round(n_common / CAST(za.nv + zb.nv - n_common AS DOUBLE), 6) AS jaccard
       |FROM c JOIN sz za ON za.source = c.src_a JOIN sz zb ON zb.source = c.src_b
       |ORDER BY src_a, src_b""".stripMargin)

  /** RFM customer segmentation with FIXED thresholds — deliberately not
    * data-derived quantiles: an ntile over all customers is a global
    * sort (one window partition at 100 TB), while fixed cutoffs keep
    * scoring map-only after the one per-customer aggregate. Monetary
    * sums in DECIMAL (order-free exact). */
  val qRfm: Q = "q_rfm" -> (
    (s: SparkSession, d: String) => {
      val base = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_order"),
          count(lit(1)).as("frequency"),
          sum(dec(col("o_totalprice"))).cast("double").as("monetary"))
      val r = when(col("last_order") >= lit("1997-01-01").cast("date"), 4)
        .when(col("last_order") >= lit("1995-01-01").cast("date"), 3)
        .when(col("last_order") >= lit("1993-06-01").cast("date"), 2).otherwise(1)
      val f = when(col("frequency") >= 20, 4)
        .when(col("frequency") >= 10, 3)
        .when(col("frequency") >= 5, 2).otherwise(1)
      val m = when(col("monetary") >= 2000000, 4)
        .when(col("monetary") >= 1000000, 3)
        .when(col("monetary") >= 500000, 2).otherwise(1)
      base.select(col("o_custkey"), col("last_order"), col("frequency"),
          col("monetary"), r.cast("long").as("r_score"),
          f.cast("long").as("f_score"), m.cast("long").as("m_score"))
        .withColumn("rfm",
          col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
        .orderBy(col("o_custkey"))
    },
    """WITH base AS (SELECT o_custkey, max(o_orderdate) AS last_order,
      |    CAST(count(*) AS BIGINT) AS frequency,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
      |  FROM orders GROUP BY 1),
      |sc AS (SELECT o_custkey, last_order, frequency, monetary,
      |  CAST(CASE WHEN last_order >= DATE '1997-01-01' THEN 4
      |       WHEN last_order >= DATE '1995-01-01' THEN 3
      |       WHEN last_order >= DATE '1993-06-01' THEN 2 ELSE 1 END AS BIGINT) AS r_score,
      |  CAST(CASE WHEN frequency >= 20 THEN 4 WHEN frequency >= 10 THEN 3
      |       WHEN frequency >= 5 THEN 2 ELSE 1 END AS BIGINT) AS f_score,
      |  CAST(CASE WHEN monetary >= 2000000 THEN 4 WHEN monetary >= 1000000 THEN 3
      |       WHEN monetary >= 500000 THEN 2 ELSE 1 END AS BIGINT) AS m_score
      |  FROM base)
      |SELECT o_custkey, last_order, frequency, monetary, r_score, f_score, m_score,
      |  r_score * 100 + f_score * 10 + m_score AS rfm
      |FROM sc ORDER BY o_custkey""".stripMargin)

  /** Linear INTERPOLATION join — each purchase gets the user's value
    * series interpolated at its timestamp from the nearest surrounding
    * view events: one backward + one forward as-of join (both the
    * custom sort-merge [[graft.plans.AsOfJoin]] operator, the forward
    * leg by time negation), then a map-only lerp. The composition
    * pattern: calibration-curve lookup at scale without a range join —
    * two ordered merges instead of an interval explosion. Exact-hit
    * guard: a view AT the purchase instant makes both legs pick it
    * (t0 = t1) — the lerp's denominator would be 0, so the guard
    * returns that exact sample. */
  val qInterp: Q = "q_interp" -> (
    (s: SparkSession, d: String) => {
      val ev = Tables.events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      // views deduped to ONE row per (user, ts) — as-of ties among
      // equal timestamps are engine-unspecified (Spark's operator and
      // DuckDB's ASOF both pick arbitrarily), so the series must be
      // unique per instant for the lerp to be deterministic; the
      // representative is the (ts, event_id)-max event, the ordering
      // discipline every other event query uses
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id").as("v_user"), col("ts_us").as("v_ts"))
        .agg(max_by(col("value"), col("event_id")).as("v_val"))
      val prev = graft.ops.AsOf.join(p, v,
          Seq(p("user_id")), Seq(v("v_user")), p("ts_us"), v("v_ts"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("v_ts").as("t0"), col("v_val").as("v0"))
      val nxt = graft.ops.AsOf.joinForward(p, v,
          Seq(p("user_id")), Seq(v("v_user")), p("ts_us"), v("v_ts"))
        .select(col("event_id").as("e2"), col("v_ts").as("t1"),
          col("v_val").as("v1"))
      prev.join(nxt, col("event_id") === col("e2"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("t0"), col("t1"),
          round(when(col("t1") =!= col("t0"),
              (col("v0") * (col("t1") - col("ts_us"))
                + col("v1") * (col("ts_us") - col("t0")))
                / (col("t1") - col("t0")))
            .otherwise(col("v0")), 6).as("value_interp"))
        .orderBy(col("event_id"))
    },
    s"""WITH $EV,
       |p AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'purchase'),
       |v AS (SELECT user_id AS v_user, ts_us AS v_ts,
       |    arg_max(value, event_id) AS v_val
       |  FROM ev WHERE event_type = 'view' GROUP BY 1, 2),
       |pv AS (SELECT p.event_id, p.user_id, p.ts_us, v.v_ts AS t0, v.v_val AS v0
       |  FROM p ASOF JOIN v ON p.user_id = v.v_user AND v.v_ts <= p.ts_us),
       |nx AS (SELECT p.event_id, v.v_ts AS t1, v.v_val AS v1
       |  FROM p ASOF JOIN v ON p.user_id = v.v_user AND v.v_ts >= p.ts_us)
       |SELECT pv.event_id, pv.user_id, pv.ts_us, pv.t0, nx.t1,
       |  round(CASE WHEN nx.t1 <> pv.t0
       |    THEN (pv.v0 * (nx.t1 - pv.ts_us) + nx.v1 * (pv.ts_us - pv.t0))
       |      / (nx.t1 - pv.t0)
       |    ELSE pv.v0 END, 6) AS value_interp
       |FROM pv JOIN nx USING (event_id) ORDER BY event_id""".stripMargin)

  /** Rolling 7-day distinct active users — EXACT sliding count-distinct
    * without a sliding window operator: each (user, day) activity row
    * fans out to the ≤ 7 window-end days it contributes to (a bounded
    * explode, the resample grid trick), then ONE hash aggregation
    * counts distinct users per window end. At 100 TB this is the shape
    * that replaces a per-day 7-day-lookback rescan: the fan-out factor
    * is the window length, never the data. */
  val qRollingDau: Q = "q_rolling_dau" -> (
    (s: SparkSession, d: String) => {
      val dayUs = 86400000000L
      val ud = Tables.events(s, d)
        .select(col("user_id"), expr(s"ts_us DIV $dayUs").as("day"))
        .distinct()
      val bounds = ud.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      ud.select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6)).as("wday"))
        .crossJoin(bounds)
        .filter(col("wday").between(col("lo"), col("hi")))
        .groupBy(col("wday"))
        .agg(countDistinct(col("user_id")).as("dau_7d"))
        .orderBy(col("wday"))
    },
    s"""WITH $EV,
       |ud AS (SELECT DISTINCT user_id, ts_us // ${86400000000L} AS day FROM ev),
       |w AS (SELECT user_id, unnest(range(day, day + 7)) AS wday FROM ud),
       |b AS (SELECT min(day) AS lo, max(day) AS hi FROM ud)
       |SELECT wday, CAST(count(DISTINCT user_id) AS BIGINT) AS dau_7d
       |FROM w, b WHERE wday BETWEEN lo AND hi
       |GROUP BY 1 ORDER BY wday""".stripMargin)

  /** Per-user FEATURE table (the churn-model input shape): lifetime
    * span, per-type counts, active days, decimal-exact value total —
    * one hash aggregation, O(1) state per user, map-only expressions
    * after it. The per-type counts are conditional sums, not a pivot
    * operator: the column set is fixed at plan time, so codegen fuses
    * the whole row. */
  val qUserFeatures: Q = "q_user_features" -> (
    (s: SparkSession, d: String) => {
      val dayUs = 86400000000L
      def n(t: String) = sum(when(col("event_type") === t, 1L).otherwise(0L))
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          n("view").as("n_views"), n("click").as("n_clicks"),
          n("purchase").as("n_purchases"), n("signup").as("n_signups"),
          min(col("ts_us")).as("first_us"), max(col("ts_us")).as("last_us"),
          countDistinct(expr(s"ts_us DIV $dayUs")).as("active_days"),
          sum(dec(col("value"))).cast("double").as("value_total"))
        .withColumn("span_days",
          (col("last_us") - col("first_us")) / lit(86400000000L))
        .orderBy(col("user_id"))
    },
    s"""WITH $EV
       |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_views,
       |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
       |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
       |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signups,
       |  min(ts_us) AS first_us, max(ts_us) AS last_us,
       |  CAST(count(DISTINCT ts_us // ${86400000000L}) AS BIGINT) AS active_days,
       |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_total,
       |  (max(ts_us) - min(ts_us)) / CAST(${86400000000L} AS DOUBLE) AS span_days
       |FROM ev GROUP BY 1 ORDER BY user_id""".stripMargin)

  /** Data-quality CONSTRAINT REPORT — the validation pass a pipeline
    * runs before promoting a snapshot: null checks, key uniqueness,
    * referential integrity (anti-join count), range checks. Each check
    * is one scalar aggregate (integrity is one join), unioned into a
    * tiny report table; nothing here is driver-side row iteration. */
  val qDqChecks: Q = "q_dq_checks" -> (
    (s: SparkSession, d: String) => {
      val orders = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      val cust = Tables.customer(s, d)
      val ev = Tables.events(s, d)
      def check(namev: String, agg: DataFrame): DataFrame =
        agg.select(lit(namev).as("check"), col("violations"))
      check("orders_null_custkey",
          orders.agg(sum(when(col("o_custkey").isNull, 1L).otherwise(0L))
            .as("violations")))
        .unionAll(check("orders_dup_orderkey",
          orders.agg((count(lit(1)) - countDistinct(col("o_orderkey")))
            .as("violations"))))
        // left_anti ≡ the oracle's NOT EXISTS under NULL foreign keys
        // (both count a NULL-keyed row as an orphan); NOT IN would
        // diverge — a single NULL in the subquery zeroes it
        .unionAll(check("orders_orphan_custkey",
          orders.join(cust, orders("o_custkey") === cust("c_custkey"),
              "left_anti")
            .agg(count(lit(1)).as("violations"))))
        .unionAll(check("lineitem_orphan_orderkey",
          li.join(orders, li("l_orderkey") === orders("o_orderkey"),
              "left_anti")
            .agg(count(lit(1)).as("violations"))))
        .unionAll(check("lineitem_nonpositive_qty",
          li.agg(sum(when(col("l_quantity") <= 0, 1L).otherwise(0L))
            .as("violations"))))
        .unionAll(check("events_null_type",
          ev.agg(sum(when(col("event_type").isNull, 1L).otherwise(0L))
            .as("violations"))))
        .orderBy(col("check"))
    },
    s"""WITH $EV
       |SELECT * FROM (
       |  SELECT 'orders_null_custkey' AS "check", CAST(
       |    sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS violations FROM orders
       |  UNION ALL SELECT 'orders_dup_orderkey', CAST(
       |    count(*) - count(DISTINCT o_orderkey) AS BIGINT) FROM orders
       |  UNION ALL SELECT 'orders_orphan_custkey', CAST(count(*) AS BIGINT)
       |    FROM orders o
       |    WHERE NOT EXISTS (SELECT 1 FROM customer c
       |      WHERE c.c_custkey = o.o_custkey)
       |  UNION ALL SELECT 'lineitem_orphan_orderkey', CAST(count(*) AS BIGINT)
       |    FROM lineitem l
       |    WHERE NOT EXISTS (SELECT 1 FROM orders o2
       |      WHERE o2.o_orderkey = l.l_orderkey)
       |  UNION ALL SELECT 'lineitem_nonpositive_qty', CAST(
       |    sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM lineitem
       |  UNION ALL SELECT 'events_null_type', CAST(
       |    sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM ev)
       |ORDER BY "check"""".stripMargin)

  /** The constraint report maintained INCREMENTALLY
    * ([[graft.streaming.DqStream]]): the event log arrives in three
    * id-disjoint slices, each batch appending only its own monotone
    * contribution (null/non-positive/orphan counts additive; the
    * non-additive dup-key check split into a running row count plus a
    * first-seen key store, reported as rows − distinct keys). The
    * oracle is the FULL-corpus one-shot SQL, so equality certifies the
    * decomposition end-to-end — the always-current report never
    * rescans history (the q_copurchase_stored lifecycle on data
    * quality). Replays no-op on the store's per-batch markers. */
  val qDqStored: Q = "q_dq_stored" -> (
    (s: SparkSession, d: String) => {
      // the store name carries the CHECK-SET/schema version: markers
      // make a populated store no-op new appends, so a changed check
      // list (or store schema — v4 added the crash-retry tag column)
      // must land in a fresh store or reads would miss columns
      val path = codebookPath(d, "dq_report_v4")
      import graft.streaming.DqStream
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      val checks = Seq(
        DqStream.NullCheck("events_null_type", "event_type"),
        DqStream.NonPositiveCheck("events_nonpos_value", "value"),
        DqStream.DupKeyCheck("events_dup_id", "event_id"),
        DqStream.OrphanCheck("events_orphan_user", "user_id",
          Tables.customer(s, d), "c_custkey"),
        // bounds chosen to BITE on this corpus (nonzero counts give the
        // hash real evidence): values run 0.01-490, and the enum
        // whitelist excludes two of the five event types
        DqStream.RangeCheck("events_value_range", "value", 0.0, 50.0),
        DqStream.MatchCheck("events_type_format", "event_type",
          "^(view|click|signup)$"))
      // coalesce routes NULL-id rows into slice 0 so the batch split is
      // a true partition of the input (a bare pmod === i drops NULLs
      // from every slice and would undercount vs the one-shot oracle)
      (0 until 3).foreach { i =>
        DqStream.processBatch(
          ev.filter(coalesce(pmod(col("event_id"), lit(3)), lit(0)) === i),
          path, s"slice_$i", checks)
      }
      DqStream.report(s, path, checks)
    },
    s"""WITH $EV
       |SELECT * FROM (
       |  SELECT 'events_dup_id' AS "check", CAST(
       |    count(*) - count(DISTINCT event_id) AS BIGINT) AS violations
       |    FROM ev
       |  UNION ALL SELECT 'events_nonpos_value', CAST(
       |    sum(CASE WHEN value <= 0 THEN 1 ELSE 0 END) AS BIGINT) FROM ev
       |  UNION ALL SELECT 'events_null_type', CAST(
       |    sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    FROM ev
       |  UNION ALL SELECT 'events_orphan_user', CAST(count(*) AS BIGINT)
       |    FROM ev
       |    WHERE NOT EXISTS (SELECT 1 FROM customer c
       |      WHERE c.c_custkey = ev.user_id)
       |  UNION ALL SELECT 'events_value_range', CAST(
       |    sum(CASE WHEN value < 0.0 OR value > 50.0 THEN 1 ELSE 0 END)
       |    AS BIGINT) FROM ev
       |  UNION ALL SELECT 'events_type_format', CAST(
       |    sum(CASE WHEN event_type IS NOT NULL
       |      AND NOT regexp_matches(event_type, '^(view|click|signup)$$')
       |      THEN 1 ELSE 0 END) AS BIGINT) FROM ev)
       |ORDER BY "check"""".stripMargin)

  /** The reference's `Union` fan-out EXTENDED with an incrementally-
    * maintained AGGREGATE member (db/mod.rs:237-258 gives raw tables
    * only): one event flow feeds a raw audit table and its per-user
    * rollup through [[graft.sink.UnionDeltaSink]] in ONE transaction
    * per batch, then a later batch RETRACTS every click event from
    * BOTH members — the takedown shape — which must decrement and
    * zero-eliminate exactly. The query reads the maintained view
    * back; the oracle recomputes it from scratch over the surviving
    * rows, so equality certifies insert + retract + zero-elimination
    * end-to-end through the shared-txn protocol (AggViewSpec pins the
    * mechanics; this puts the view's CONTENT under the hash gate).
    * Integer cents keep the sums drift-free (the AggDeltaSink DECIMAL
    * guidance). Reps: the in-memory Derby db persists per JVM and the
    * replayed batch ids no-op on the shared batch stamps — the view
    * is already exact. */
  val qAggViewUnion: Q = "q_aggview_union" -> (
    (s: SparkSession, d: String) => {
      import graft.sink.{AggDeltaSink, ColumnSpec, TableSpec, UnionDeltaSink}
      val ev = Tables.events(s, d)
        .filter(pmod(col("event_id"), lit(7)) === 0)
        .select(col("event_id"), col("user_id"), col("event_type"),
          floor(col("value") * 100).cast("long").as("cents"))
      val db = "aggunion_" + new org.apache.hadoop.fs.Path(d).getName
        .replaceAll("[^A-Za-z0-9]", "_")
      val url = s"jdbc:derby:memory:$db;create=true"
      val rawSpec = TableSpec("audit_events", 1, Seq(
        ColumnSpec("event_id", "BIGINT"), ColumnSpec("user_id", "BIGINT"),
        ColumnSpec("cents", "BIGINT")))
      val agg = new AggDeltaSink(url, "user_stats", 1,
        keys = Seq(ColumnSpec("user_id", "BIGINT", index = true)),
        sums = Seq(ColumnSpec("total_cents", "BIGINT")))
      val union = new UnionDeltaSink(url, "grp_union_agg", Seq(rawSpec),
        aggMembers = Seq(agg))
      union.bootstrap()
      val w = union.foreachBatchWriter()
      // each batch fans one delta set into BOTH members via the
      // _table tag (columns irrelevant to a member ride as NULL)
      def tagged(part: DataFrame, mult: Long) =
        part.select(lit("audit_events").as("_table"), col("event_id"),
            col("user_id"), col("cents"),
            lit(null).cast("long").as("total_cents"),
            lit(mult).as("mult"))
          .unionAll(part.select(lit("user_stats").as("_table"),
            lit(null).cast("long").as("event_id"), col("user_id"),
            lit(null).cast("long").as("cents"),
            col("cents").as("total_cents"), lit(mult).as("mult")))
      w(tagged(ev.filter(pmod(col("event_id"), lit(2)) === 0), 1L), 0L)
      w(tagged(ev.filter(pmod(col("event_id"), lit(2)) === 1), 1L), 1L)
      w(tagged(ev.filter(col("event_type") === "click"), -1L), 2L)
      agg.readAsDataFrame(s)
        .toDF("user_id", "cnt", "total_cents")
        .select(col("user_id").cast("long").as("user_id"),
          col("cnt").cast("long").as("cnt"),
          col("total_cents").cast("long").as("total_cents"))
        .orderBy(col("user_id"))
    },
    s"""WITH $EV,
       |sl AS (SELECT user_id, CAST(floor(value * 100) AS BIGINT) AS cents
       |  FROM ev WHERE event_id % 7 = 0 AND event_type <> 'click')
       |SELECT user_id, CAST(count(*) AS BIGINT) AS cnt,
       |  CAST(sum(cents) AS BIGINT) AS total_cents
       |FROM sl GROUP BY user_id ORDER BY user_id""".stripMargin)

  /** q_lookback on the PARTITIONED layout — the 100 TB pruning story as
    * a graded query: the flat events file is laid out once per corpus
    * as `dt=<DATE>` directories (content-guarded artifact, the
    * codebookPath lifecycle), and [[Tables.eventsSincePartitioned]]
    * reads it with the cutoff landing as BOTH a PartitionFilter
    * (directories before the cutoff day never listed) and a
    * PushedFilter (row-group stats inside the surviving days).
    * Identical result to q_lookback by construction — the oracle is
    * the same flat-scan SQL. */
  val qLookbackPartitioned: Q = "q_lookback_partitioned" -> (
    (s: SparkSession, d: String) => {
      val part = codebookPath(d, "events_by_day")
      if (!graft.ops.Stores.exists(s, part, "_SUCCESS"))
        Tables.writeEventsPartitioned(s, d, part)
      Tables.eventsSincePartitioned(s, part, 1705708800000000L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("ts_us")).as("first_us"))
        .orderBy(col("event_type"))
    },
    """SELECT event_type, count(*) AS n, min(epoch_us(ts)) AS first_us
      |FROM events WHERE epoch_us(ts) >= 1705708800000000
      |GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** Multimodal DATASET CARD: per-modality asset counts, byte volume,
    * decode success, frame bound — the observability row a binary-asset
    * pipeline promotes alongside the text card. One aggregation over
    * the partition-parallel extractor. `n_decoded` is 0 on THIS corpus
    * by construction (the payloads are UTF-8 text bytes, which no image
    * reader accepts — MultimodalSpec proves the >0 path on real PNGs);
    * the oracle pins that plus the stub's sha-derived frame counts. */
  val qMediaCard: Q = "q_media_card" -> (
    (s: SparkSession, d: String) => {
      val media = Multimodal.mediaFromDocuments(Tables.documents(s, d))
      Multimodal.extractFeatures(media).toDF()
        .groupBy(col("modality"))
        .agg(count(lit(1)).as("n_assets"),
          sum(col("n_bytes")).as("total_bytes"),
          sum(when(col("decoded"), 1L).otherwise(0L)).as("n_decoded"),
          max(col("n_frames").cast("long")).as("max_frames"))
        .orderBy(col("modality"))
    },
    """WITH m AS (SELECT
      |    CASE WHEN doc_id % 3 = 0 THEN 'image'
      |         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |    CAST(CASE WHEN doc_id % 3 = 2
      |      THEN 1 + CAST('0x' || substr(sha256(text), 5, 2) AS INT) % 64
      |      ELSE 1 END AS BIGINT) AS n_frames
      |  FROM documents)
      |SELECT modality, CAST(count(*) AS BIGINT) AS n_assets,
      |  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
      |  CAST(0 AS BIGINT) AS n_decoded, max(n_frames) AS max_frames
      |FROM m GROUP BY 1 ORDER BY modality""".stripMargin)

  /** Windowed co-occurrence + linear PMI ([[graft.ops.TextStats
    * .cooccurrence]]) — the GloVe/PPMI prep pass. Pair generation is
    * map-only shifted zip_with (corpus-linear, tokens × window pair
    * rows), never a positions self-join; the oracle USES the self-join
    * (fine at oracle scale) to independently confirm the map-only
    * form's counts. */
  val qCooccur: Q = "q_cooccur" -> (
    (s: SparkSession, d: String) =>
      graft.ops.TextStats.cooccurrence(Tables.documents(s, d),
          window = 2, minCount = 5, minPair = 3)
        .orderBy(col("w1"), col("w2")),
    s"""WITH t AS (SELECT doc_id, $TOKS AS ts FROM documents),
       |pos AS (SELECT doc_id, unnest(ts) AS w,
       |    generate_subscripts(ts, 1) AS p FROM t),
       |pr AS (
       |  SELECT least(a.w, b.w) AS w1, greatest(a.w, b.w) AS w2
       |  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
       |  UNION ALL
       |  SELECT least(a.w, b.w), greatest(a.w, b.w)
       |  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 2),
       |pc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab
       |  FROM pr GROUP BY 1, 2 HAVING count(*) >= 3),
       |wc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM pos GROUP BY 1),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM pos)
       |SELECT w1, w2, c_ab, a.c AS c_a, b.c AS c_b,
       |  round(CAST(c_ab AS DOUBLE) * n_tokens
       |    / (CAST(a.c AS DOUBLE) * b.c), 6) AS pmi_lin
       |FROM pc JOIN wc a ON a.w = pc.w1 JOIN wc b ON b.w = pc.w2, n
       |WHERE a.c >= 5 AND b.c >= 5
       |ORDER BY w1, w2""".stripMargin)

  /** q_copurchase through the INCREMENTAL pair-count store
    * ([[graft.ops.Baskets.pairStoreAppend]]): the order log arrives in
    * three basket-disjoint batches, each appending only its own counts
    * (additive statistics — the PCA-moments lifecycle on retail data);
    * the report sums the store and applies thresholds/lift. The oracle
    * is the FULL-corpus mining SQL, so the equality certifies
    * additivity end-to-end: never rescanning history costs nothing. */
  val qCopurchaseStored: Q = "q_copurchase_stored" -> (
    (s: SparkSession, d: String) => {
      val path = codebookPath(d, "basket_pairs")
      val b = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
      (0 until 3).foreach { i =>
        graft.ops.Baskets.pairStoreAppend(
          b.filter(pmod(col("basket"), lit(3)) === i), path, s"slice_$i")
      }
      graft.ops.Baskets.frequentPairsFromStore(s, path,
          minItemSupport = 5, minPairSupport = 2)
        .orderBy(col("item_a"), col("item_b"))
    },
    """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem),
      |f AS (SELECT item, CAST(count(*) AS BIGINT) AS supp FROM b
      |  GROUP BY 1 HAVING count(*) >= 5),
      |fb AS (SELECT b.basket, b.item, f.supp FROM b JOIN f USING (item)),
      |n AS (SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n_baskets FROM b),
      |p AS (SELECT x.item AS item_a, y.item AS item_b,
      |    x.supp AS supp_a, y.supp AS supp_b, CAST(count(*) AS BIGINT) AS support
      |  FROM fb x JOIN fb y ON x.basket = y.basket AND x.item < y.item
      |  GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2)
      |SELECT item_a, item_b, support, supp_a, supp_b,
      |  round(CAST(support AS DOUBLE) * n_baskets
      |    / (CAST(supp_a AS DOUBLE) * supp_b), 6) AS lift
      |FROM p, n ORDER BY item_a, item_b""".stripMargin)

  /** Exact EDIT-DISTANCE near-dup — the LSH-then-verify shape with true
    * Levenshtein as the verifier: SimHash pigeonhole banding (exact
    * recall at the hamming ≤ 3 bound) bounds the candidate set, then the
    * THRESHOLDED Levenshtein kernel (banded DP, O(len·k) not O(len²);
    * returns −1 above the bound, so the engine never fills the full
    * matrix) verifies only candidates. At 100 TB the edit-distance
    * work is candidates × bounded-band DP — the banding does the
    * pruning, the verify does character-exact truth. The hamming
    * bound stays TIGHT (3 ⇒ 12-bit chunks, 4096 buckets each): at 6
    * the chunks shrink to 6 bits / 64 buckets and the same-bucket
    * candidate volume went n²/64-shaped — measured 7.3 s vs 1.5 s at
    * sf0.1, exactly the steep-growth warning on the operator. The
    * oracle
    * replays the signature + hamming prune and applies plain
    * levenshtein to the survivors. */
  val qEditDup: Q = "q_editdup" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val cand = Dedup.simhashNearDup(docs, maxHamming = 3)
      // distance over the ASCII PROJECTION (non-ASCII → '?'): Spark's
      // levenshtein counts codepoints, DuckDB's counts BYTES — they
      // agree only on ASCII, so both sides project first ('é' vs 'e'
      // is 1 edit in Spark, 2 in DuckDB; the projection makes it 1
      // everywhere and keeps the oracle valid on any future corpus).
      // Projected ONCE PER DOC, before the join — after it, the regexp
      // would re-run per CANDIDATE pair row (2 evaluations × 320k pairs
      // at sf0.1 instead of one × 5k docs; measured ~1.4× on the query)
      def ascii(c: Column) = regexp_replace(c, "[^\\p{ASCII}]", "?")
      val proj = docs.select(col("doc_id"), ascii(col("text")).as("t"))
      cand
        .join(proj.select(col("doc_id").as("id_a"), col("t").as("t_a")), "id_a")
        .join(proj.select(col("doc_id").as("id_b"), col("t").as("t_b")), "id_b")
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"),
          levenshtein(col("t_a"), col("t_b"), 40).as("ed"))
        .filter(col("ed") >= 0 && col("ed") <= 40)
        .select(col("id_a"), col("id_b"), col("hamming"),
          col("ed").cast("long").as("edit_dist"))
        .orderBy(col("id_a"), col("id_b"))
    },
    s"""WITH t AS (SELECT doc_id,
       |    list_transform(list_distinct($TOKS), tk ->
       |      CAST('0x' || substr(md5('0' || tk), 1, 15) AS BIGINT)) AS th
       |  FROM documents),
       |sig AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 48), i ->
       |    CASE WHEN list_sum(list_transform(th, h ->
       |        CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
       |      THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS sh
       |  FROM t),
       |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.sh, b.sh)) <= 3)
       |SELECT c.id_a, c.id_b, c.hamming,
       |  CAST(levenshtein(regexp_replace(da.text, '[^[:ascii:]]', '?', 'g'),
       |    regexp_replace(db.text, '[^[:ascii:]]', '?', 'g')) AS BIGINT) AS edit_dist
       |FROM cand c
       |JOIN documents da ON da.doc_id = c.id_a
       |JOIN documents db ON db.doc_id = c.id_b
       |WHERE levenshtein(regexp_replace(da.text, '[^[:ascii:]]', '?', 'g'),
       |  regexp_replace(db.text, '[^[:ascii:]]', '?', 'g')) <= 40
       |ORDER BY id_a, id_b""".stripMargin)

  /** q_editdup through the INCREMENTAL signature store
    * ([[graft.ops.Dedup.simhashStoreAppend]]): the corpus arrives in
    * three id-disjoint slices; each batch signs only its own docs,
    * emits the new near-pairs (within-batch + batch-vs-store at the
    * exact pigeonhole bound), and appends its (id, sh, tag) rows. The
    * union of emissions is verified with the same thresholded
    * Levenshtein as q_editdup, and the oracle is q_editdup's
    * FULL-CORPUS SQL — equality certifies exactly-once pair coverage
    * across the batch split (each unordered pair surfaces in the batch
    * of its later doc). Steady-state cost per batch is
    * batch×(batch+store-probe), never a corpus re-pair; replays
    * recompute identical emissions off the strictly-earlier-tag store
    * view and no-op the append on its marker. */
  val qEditDupStored: Q = "q_editdup_stored" -> (
    (s: SparkSession, d: String) => {
      val path = codebookPath(d, "simhash_sig_store")
      val docs = Tables.documents(s, d)
      // coalesce: NULL-id docs (none in this corpus, but the split must
      // be a true partition) land in slice 0 instead of vanishing
      val emitted = (0 until 3).map { i =>
        Dedup.simhashStoreAppend(
          docs.filter(coalesce(pmod(col("doc_id"), lit(3)), lit(0)) === i),
          path, s"slice_$i")
      }.reduce(_ unionAll _)
      // ascii projected once per doc, pre-join (see q_editdup's note)
      def ascii(c: Column) = regexp_replace(c, "[^\\p{ASCII}]", "?")
      val proj = docs.select(col("doc_id"), ascii(col("text")).as("t"))
      emitted
        .join(proj.select(col("doc_id").as("id_a"), col("t").as("t_a")), "id_a")
        .join(proj.select(col("doc_id").as("id_b"), col("t").as("t_b")), "id_b")
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"),
          levenshtein(col("t_a"), col("t_b"), 40).as("ed"))
        .filter(col("ed") >= 0 && col("ed") <= 40)
        .select(col("id_a"), col("id_b"), col("hamming"),
          col("ed").cast("long").as("edit_dist"))
        .orderBy(col("id_a"), col("id_b"))
    },
    s"""WITH t AS (SELECT doc_id,
       |    list_transform(list_distinct($TOKS), tk ->
       |      CAST('0x' || substr(md5('0' || tk), 1, 15) AS BIGINT)) AS th
       |  FROM documents),
       |sig AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 48), i ->
       |    CASE WHEN list_sum(list_transform(th, h ->
       |        CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
       |      THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS sh
       |  FROM t),
       |cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.sh, b.sh)) <= 3)
       |SELECT c.id_a, c.id_b, c.hamming,
       |  CAST(levenshtein(regexp_replace(da.text, '[^[:ascii:]]', '?', 'g'),
       |    regexp_replace(db.text, '[^[:ascii:]]', '?', 'g')) AS BIGINT) AS edit_dist
       |FROM cand c
       |JOIN documents da ON da.doc_id = c.id_a
       |JOIN documents db ON db.doc_id = c.id_b
       |WHERE levenshtein(regexp_replace(da.text, '[^[:ascii:]]', '?', 'g'),
       |  regexp_replace(db.text, '[^[:ascii:]]', '?', 'g')) <= 40
       |ORDER BY id_a, id_b""".stripMargin)

  /** Salted two-phase aggregation over a HOT-KEY distribution — the
    * skew-mitigation path ([[graft.ops.SkewJoin.saltedSum]]) as a
    * graded query: event_type has a handful of values, so an unsalted
    * sum funnels each key through one reducer; salting spreads each
    * key over 8 partial sums that a second tiny aggregation folds.
    * Values sum in DECIMAL so partial-order differences cannot move a
    * bit — the salted result must hash-match the plain-sum oracle
    * exactly. */
  val qSaltedSum: Q = "q_salted_sum" -> (
    (s: SparkSession, d: String) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"), dec(col("value")).as("v"))
      graft.ops.SkewJoin.saltedSum(ev, Seq("event_type"), "v",
          salts = 8, resultName = "total")
        .select(col("event_type"), col("total").cast("double").as("total"))
        .orderBy(col("event_type"))
    },
    s"""WITH $EV
       |SELECT event_type,
       |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
       |FROM ev GROUP BY 1 ORDER BY event_type""".stripMargin)

  /** SCD TYPE-2 history build — the warehouse dimension-maintenance
    * shape, derived straight from the event stream: one row per
    * (user, value run) with effective [from, to] bounds, open rows
    * closed at the 9999-12-31 sentinel (no NULL bounds — interval
    * queries stay BETWEEN-able). Two window passes over ONE exchange:
    * the change filter's lag and the run-closing lead share the
    * (user, ts, event id) sort order, so Catalyst plans a single
    * partition+sort serving both. Doubles are only COMPARED and
    * carried, never combined — hash-safe. */
  val qScd2: Q = "q_scd2" -> (
    (s: SparkSession, d: String) => {
      val endUs = 253402300799999999L // 9999-12-31T23:59:59.999999Z
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("value"))
        .filter(col("value").isNotNull)
        .withColumn("pv", lag(col("value"), 1).over(w))
        .filter(col("pv").isNull || col("pv") =!= col("value"))
        .withColumn("valid_to_us",
          coalesce(lead(col("ts_us"), 1).over(w) - 1, lit(endUs)))
        .select(col("user_id"), col("value"),
          col("ts_us").as("valid_from_us"), col("valid_to_us"),
          when(col("valid_to_us") === endUs, 1L).otherwise(0L).as("is_current"))
        .orderBy(col("user_id"), col("valid_from_us"))
    },
    s"""WITH $EV,
       |v AS (SELECT user_id, event_id, ts_us, value,
       |    lag(value) OVER (PARTITION BY user_id
       |      ORDER BY ts_us, event_id) AS pv
       |  FROM ev WHERE value IS NOT NULL),
       |ch AS (SELECT user_id, event_id, ts_us, value FROM v
       |  WHERE pv IS NULL OR pv <> value),
       |h AS (SELECT user_id, value, ts_us AS valid_from_us,
       |    COALESCE(lead(ts_us) OVER (PARTITION BY user_id
       |      ORDER BY ts_us, event_id) - 1, 253402300799999999) AS valid_to_us
       |  FROM ch)
       |SELECT user_id, value, valid_from_us, valid_to_us,
       |  CAST(CASE WHEN valid_to_us = 253402300799999999
       |    THEN 1 ELSE 0 END AS BIGINT) AS is_current
       |FROM h ORDER BY user_id, valid_from_us""".stripMargin)

  /** PageRank centrality over the co-purchase graph
    * ([[graft.ops.Graph.pageRank]]): which parts sit at the center of
    * the basket network. Fixed 3 power iterations so the oracle can
    * replay the unrolled recurrence; inbound mass sums in
    * fixed-point longs (order-free exact), and every scalar step —
    * 1/n seed, (1-d)/n base, d*mass — is the same IEEE double
    * expression on both sides, so the unrounded ranks are
    * bit-identical. Scale: one persisted (src,dst,deg) relation reused
    * per iteration; per-iteration cost is one |E| shuffle-join + one
    * aggregation — no cartesian, no driver loop over nodes; the
    * min-item-support prefilter keeps the per-basket pair blow-up to
    * frequent items (the df-cap pattern). */
  val qPageRank: Q = "q_pagerank" -> (
    (s: SparkSession, d: String) => {
      val edges = graft.ops.Graph.copurchaseEdges(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minItemSupport = 5)
      graft.ops.Graph.pageRank(edges, "src", "dst", iters = 3, damping = 0.85,
          edgesDistinct = true)
        .select(col("node").as("part"), round(col("rank"), 6).as("rank"))
        .orderBy(col("rank").desc, col("part")).limit(20)
    },
    """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
      |    FROM lineitem),
      |f AS (SELECT item FROM b GROUP BY item HAVING count(*) >= 5),
      |fb AS (SELECT b.basket, b.item FROM b JOIN f USING (item)),
      |e AS (SELECT DISTINCT x.item AS src, y.item AS dst
      |  FROM fb x JOIN fb y ON x.basket = y.basket AND x.item <> y.item),
      |d AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
      |nodes AS (SELECT DISTINCT src AS node FROM e),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
      |r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS rank FROM nodes, nn),
      |m1 AS (SELECT e.dst AS node,
      |    CAST(sum(CAST(floor(r0.rank / d.deg * 1e18) AS BIGINT)) AS BIGINT) AS im
      |  FROM e JOIN d USING (src) JOIN r0 ON r0.node = e.src GROUP BY 1),
      |r1 AS (SELECT m1.node, (CAST(1 AS DOUBLE) - 0.85) / nn.n
      |    + 0.85 * (CAST(im AS DOUBLE) / 1e18) AS rank FROM m1, nn),
      |m2 AS (SELECT e.dst AS node,
      |    CAST(sum(CAST(floor(r1.rank / d.deg * 1e18) AS BIGINT)) AS BIGINT) AS im
      |  FROM e JOIN d USING (src) JOIN r1 ON r1.node = e.src GROUP BY 1),
      |r2 AS (SELECT m2.node, (CAST(1 AS DOUBLE) - 0.85) / nn.n
      |    + 0.85 * (CAST(im AS DOUBLE) / 1e18) AS rank FROM m2, nn),
      |m3 AS (SELECT e.dst AS node,
      |    CAST(sum(CAST(floor(r2.rank / d.deg * 1e18) AS BIGINT)) AS BIGINT) AS im
      |  FROM e JOIN d USING (src) JOIN r2 ON r2.node = e.src GROUP BY 1),
      |r3 AS (SELECT m3.node, (CAST(1 AS DOUBLE) - 0.85) / nn.n
      |    + 0.85 * (CAST(im AS DOUBLE) / 1e18) AS rank FROM m3, nn)
      |SELECT node AS part, round(rank, 6) AS rank FROM r3
      |ORDER BY round(rank, 6) DESC, part LIMIT 20""".stripMargin)

  /** [[qPageRank]] over edges derived from the INCREMENTAL pair store
    * ([[graft.ops.Graph.copurchaseEdgesFromPairStore]], three
    * basket-disjoint slices through [[graft.ops.Baskets.pairStoreAppend]]):
    * the 100 TB graph pattern — the quadratic-per-basket pair
    * extraction runs once per arriving batch, PageRank reads the merged
    * artifact. The oracle is [[qPageRank]]'s VERBATIM: store-derived
    * edges must be indistinguishable from the one-shot build, ranks
    * included. */
  val qPageRankStored: Q = "q_pagerank_stored" -> (
    (s: SparkSession, d: String) => {
      val path = codebookPath(d, "basket_pairs_pr")
      val b = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
      (0 until 3).foreach { i =>
        graft.ops.Baskets.pairStoreAppend(
          b.filter(pmod(col("basket"), lit(3)) === i), path, s"slice_$i")
      }
      val edges = graft.ops.Graph.copurchaseEdgesFromPairStore(
        s, path, minItemSupport = 5)
      graft.ops.Graph.pageRank(edges, "src", "dst", iters = 3, damping = 0.85,
          edgesDistinct = true)
        .select(col("node").as("part"), round(col("rank"), 6).as("rank"))
        .orderBy(col("rank").desc, col("part")).limit(20)
    },
    qPageRank._2._2)

  /** Blocked record linkage ([[graft.ops.Linkage.blockedBestMatch]]):
    * a deterministically corrupted copy of every third customer (one
    * digit spliced out of the name at a key-derived position) is
    * matched back to the master table — candidates only within the
    * same nation block, a length-difference prune ahead of the O(len²)
    * DP, best match by (edit distance, master key). All-integer
    * output, so the oracle comparison is exact. Scale: candidate
    * pairs = Σ_block |probes|×|master|, bounded by block cardinality —
    * never the |P|×|M| cartesian. */
  val qEntityMatch: Q = "q_entity_match" -> (
    (s: SparkSession, d: String) => {
      val cust = Tables.customer(s, d)
      // second blocking key: the name's LAST character. The corruption
      // model splices out a character at position 10..17 of an 18-char
      // name, so the final character is invariant — the true master
      // always shares the block, and the key cuts candidate pairs ~10×
      // (multi-key blocking: recall is traded only where the corruption
      // could touch the key, which here it cannot).
      val dirty = cust.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("d_key"), col("c_nationkey"),
          expr("concat(substring(c_name, 1, cast(c_custkey % 8 as int) + 9), " +
            "substring(c_name, cast(c_custkey % 8 as int) + 11, 100))")
            .as("d_name"))
        .withColumn("blk", expr("right(d_name, 1)"))
      val masters = cust.withColumn("blk", expr("right(c_name, 1)"))
      graft.ops.Linkage.blockedBestMatch(dirty, masters,
          Seq("c_nationkey", "blk"),
          "d_key", "d_name", "c_custkey", "c_name", maxDist = 2)
        .select(col("probe_id").as("d_key"),
          col("master_id").as("match_key"), col("dist"), col("n_candidates"))
        .orderBy(col("d_key"))
    },
    """WITH dirty AS (SELECT c_custkey AS d_key, c_nationkey,
      |    substr(c_name, 1, CAST(c_custkey % 8 AS INT) + 9)
      |      || substr(c_name, CAST(c_custkey % 8 AS INT) + 11, 100) AS d_name
      |  FROM customer WHERE c_custkey % 3 = 0),
      |cand AS (SELECT d.d_key, c.c_custkey,
      |    CAST(levenshtein(d.d_name, c.c_name) AS BIGINT) AS dist
      |  FROM dirty d JOIN customer c
      |    ON d.c_nationkey = c.c_nationkey
      |    AND right(d.d_name, 1) = right(c.c_name, 1)
      |  WHERE abs(length(d.d_name) - length(c.c_name)) <= 2
      |    AND levenshtein(d.d_name, c.c_name) <= 2),
      |best AS (SELECT d_key, c_custkey AS match_key, dist,
      |    CAST(count(*) OVER (PARTITION BY d_key) AS BIGINT) AS n_candidates,
      |    row_number() OVER (PARTITION BY d_key ORDER BY dist, c_custkey) AS rn
      |  FROM cand)
      |SELECT d_key, match_key, dist, n_candidates FROM best
      |WHERE rn = 1 ORDER BY d_key""".stripMargin)

  /** Record linkage under a BITING hot-block cap
    * ([[graft.ops.Linkage.blockedBestMatch]] `maxBlockSize`): three
    * quarters of the master table collapses into one degenerate 'junk'
    * block (the NULL-/default-key flood shape of dirty data), which the
    * cap excludes from candidate generation — candidates stay ≤ |P|×cap
    * instead of going quadratic in the flood. Probes landing in the
    * capped block report no match (exactly the empty-block semantics);
    * char-blocked probes match as usual. The cap changes the candidate
    * set here by construction — this fixture pins the production path,
    * not the disabled-cap default. */
  val qEntityMatchCapped: Q = "q_entity_match_capped" -> (
    (s: SparkSession, d: String) => {
      val cust = Tables.customer(s, d)
      val dirty = cust.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("d_key"),
          expr("concat(substring(c_name, 1, cast(c_custkey % 8 as int) + 9), " +
            "substring(c_name, cast(c_custkey % 8 as int) + 11, 100))")
            .as("d_name"))
        .withColumn("blk", when(col("d_key") % 4 === 1,
          expr("right(d_name, 2)")).otherwise(lit("junk")))
      val masters = cust.withColumn("blk", when(col("c_custkey") % 4 === 1,
        expr("right(c_name, 2)")).otherwise(lit("junk")))
      graft.ops.Linkage.blockedBestMatch(dirty, masters, Seq("blk"),
          "d_key", "d_name", "c_custkey", "c_name",
          maxDist = 2, maxBlockSize = 500L)
        .select(col("probe_id").as("d_key"),
          col("master_id").as("match_key"), col("dist"), col("n_candidates"))
        .orderBy(col("d_key"))
    },
    """WITH m AS (SELECT c_custkey, c_name,
      |    CASE WHEN c_custkey % 4 = 1 THEN right(c_name, 2)
      |      ELSE 'junk' END AS blk
      |  FROM customer),
      |keep AS (SELECT blk FROM m GROUP BY blk HAVING count(*) <= 500),
      |mk AS (SELECT m.c_custkey, m.c_name, m.blk FROM m JOIN keep USING (blk)),
      |dirty AS (SELECT c_custkey AS d_key,
      |    substr(c_name, 1, CAST(c_custkey % 8 AS INT) + 9)
      |      || substr(c_name, CAST(c_custkey % 8 AS INT) + 11, 100) AS d_name
      |  FROM customer WHERE c_custkey % 3 = 0),
      |dp AS (SELECT d_key, d_name,
      |    CASE WHEN d_key % 4 = 1 THEN right(d_name, 2)
      |      ELSE 'junk' END AS blk
      |  FROM dirty),
      |cand AS (SELECT dp.d_key, mk.c_custkey,
      |    CAST(levenshtein(dp.d_name, mk.c_name) AS BIGINT) AS dist
      |  FROM dp JOIN mk USING (blk)
      |  WHERE abs(length(dp.d_name) - length(mk.c_name)) <= 2
      |    AND levenshtein(dp.d_name, mk.c_name) <= 2),
      |best AS (SELECT d_key, c_custkey AS match_key, dist,
      |    CAST(count(*) OVER (PARTITION BY d_key) AS BIGINT) AS n_candidates,
      |    row_number() OVER (PARTITION BY d_key ORDER BY dist, c_custkey) AS rn
      |  FROM cand)
      |SELECT d_key, match_key, dist, n_candidates FROM best
      |WHERE rn = 1 ORDER BY d_key""".stripMargin)

  /** Record linkage under PHONETIC blocking
    * ([[graft.ops.Linkage.consonantSkeleton]]): probes are vowel-typo'd
    * copies of master names (the dominant hand-entry error class), so
    * the consonant-skeleton key lands every probe in its master's block
    * BY CONSTRUCTION — recall 1.0 where any substring key misses
    * whenever the typo overlaps the key window. `prefix_would_miss`
    * rides along as the visible comparison: true on every row whose
    * 4-char prefix block would have lost the match (the corruption
    * touches position ≤ 4 in most names here). Same Σ|block|² candidate
    * bound as every linkage entry — skeleton keys at name entropy are
    * nearly unique, so blocks are O(1). */
  val qEntityPhonetic: Q = "q_entity_phonetic" -> (
    (s: SparkSession, d: String) => {
      val cust = Tables.customer(s, d)
      // vowel-for-vowel typos in the first 8 chars (u->a, o->u, e->i):
      // length-preserving, skeleton-preserving, edit distance = the
      // number of vowels touched (<= 3 for 'Customer#...' names)
      val dirty = cust.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("d_key"),
          expr("concat(translate(substring(c_name, 1, 8), 'uoe', 'aui'), " +
            "substring(c_name, 9, 200))").as("d_name"))
        .withColumn("blk", graft.ops.Linkage.consonantSkeleton(col("d_name")))
      val masters = cust
        .withColumn("blk", graft.ops.Linkage.consonantSkeleton(col("c_name")))
      graft.ops.Linkage.blockedBestMatch(dirty, masters, Seq("blk"),
          "d_key", "d_name", "c_custkey", "c_name", maxDist = 3)
        .join(cust.select(col("c_custkey").as("master_id"),
          col("c_name").as("m_name")), Seq("master_id"))
        .join(Tables.customer(s, d).filter(col("c_custkey") % 3 === 0)
          .select(col("c_custkey").as("probe_id"),
            expr("concat(translate(substring(c_name, 1, 8), 'uoe', 'aui'), " +
              "substring(c_name, 9, 200))").as("p_name")), Seq("probe_id"))
        .select(col("probe_id").as("d_key"),
          col("master_id").as("match_key"), col("dist"), col("n_candidates"),
          (substring(col("p_name"), 1, 4) =!= substring(col("m_name"), 1, 4))
            .as("prefix_would_miss"))
        .orderBy(col("d_key"))
    },
    s"""WITH dirty AS (SELECT c_custkey AS d_key,
       |    translate(substr(c_name, 1, 8), 'uoe', 'aui')
       |      || substr(c_name, 9, 200) AS d_name
       |  FROM customer WHERE c_custkey % 3 = 0),
       |cand AS (SELECT d.d_key, d.d_name, c.c_custkey, c.c_name,
       |    CAST(levenshtein(d.d_name, c.c_name) AS BIGINT) AS dist
       |  FROM dirty d JOIN customer c
       |    ON ${graft.ops.Linkage.consonantSkeletonSql("d.d_name")}
       |     = ${graft.ops.Linkage.consonantSkeletonSql("c.c_name")}
       |  WHERE abs(length(d.d_name) - length(c.c_name)) <= 3
       |    AND levenshtein(d.d_name, c.c_name) <= 3),
       |best AS (SELECT d_key, c_custkey AS match_key, dist,
       |    CAST(count(*) OVER (PARTITION BY d_key) AS BIGINT) AS n_candidates,
       |    (substr(d_name, 1, 4) <> substr(c_name, 1, 4)) AS prefix_would_miss,
       |    row_number() OVER (PARTITION BY d_key ORDER BY dist, c_custkey) AS rn
       |  FROM cand)
       |SELECT d_key, match_key, dist, n_candidates, prefix_would_miss
       |FROM best WHERE rn = 1 ORDER BY d_key""".stripMargin)

  /** Distinctive-terms card per source
    * ([[graft.ops.TextStats.distinctiveTerms]]): top terms by in-group
    * vs rest-of-corpus odds ratio — the interpretability pass run over
    * a corpus slice before mixing. Log-free by design (`ln` has no
    * cross-engine rounding guarantee): the smoothed odds ratio is a
    * ratio of exactly-representable products, bit-identical across
    * engines and rank-equivalent to log-odds. */
  val qDomainTerms: Q = "q_domain_terms" -> (
    (s: SparkSession, d: String) =>
      graft.ops.TextStats.distinctiveTerms(Tables.documents(s, d),
          "source", minCount = 10, topK = 10)
        .orderBy(col("source"), col("rank")),
    s"""WITH tt AS (SELECT grp, term FROM (
       |    SELECT source AS grp, unnest($TOKS) AS term FROM documents)
       |  WHERE regexp_matches(term, '^[a-z]{3,}$$')),
       |st AS (SELECT grp, term, CAST(count(*) AS BIGINT) AS n_st
       |  FROM tt GROUP BY 1, 2),
       |pt AS (SELECT term, CAST(sum(n_st) AS BIGINT) AS n_t
       |  FROM st GROUP BY 1),
       |pg AS (SELECT grp, CAST(sum(n_st) AS BIGINT) AS n_s
       |  FROM st GROUP BY 1),
       |g AS (SELECT CAST(sum(n_st) AS BIGINT) AS n_all FROM st),
       |sc AS (SELECT st.grp, st.term, st.n_st,
       |    ((CAST(st.n_st AS DOUBLE) + 0.5) *
       |     (CAST(g.n_all - pg.n_s - (pt.n_t - st.n_st) AS DOUBLE) + 0.5))
       |    / ((CAST(pg.n_s - st.n_st AS DOUBLE) + 0.5) *
       |       (CAST(pt.n_t - st.n_st AS DOUBLE) + 0.5)) AS odds
       |  FROM st JOIN pt USING (term) JOIN pg USING (grp), g
       |  WHERE st.n_st >= 10),
       |rk AS (SELECT grp, term, n_st, odds,
       |    CAST(row_number() OVER (PARTITION BY grp
       |      ORDER BY odds DESC, term) AS BIGINT) AS rank
       |  FROM sc)
       |SELECT grp AS source, term, n_st, round(odds, 6) AS odds, rank
       |FROM rk WHERE rank <= 10 ORDER BY source, rank""".stripMargin)

  /** Trailing EWMA per user over the last 20 events — time-series
    * smoothing with a DYADIC decay (1/2 per step) so every weight is a
    * power of two: value/2^k is an EXACT double scaling, the weighted
    * terms sum order-free in DECIMAL(38,24), and the weight-sum closes
    * to 2 − 2^(1−m) exactly — no `pow`, no `ln`, bit-identical across
    * engines. One window pass per user (the documented event-family
    * partition bound) then a per-user aggregate. */
  val qEwma: Q = "q_ewma" -> (
    (s: SparkSession, d: String) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us").desc, col("event_id").desc)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("value"))
        .filter(col("value").isNotNull)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 20)
        .withColumn("term", (col("value") /
          expr("cast(shiftleft(cast(1 as bigint), rn - 1) as double)"))
          .cast("decimal(38,24)"))
        .groupBy(col("user_id"))
        .agg(sum(col("term")).as("num"), count(lit(1)).as("m"))
        .select(col("user_id"), col("m").as("n_used"),
          round(col("num").cast("double") /
            (lit(2.0) - lit(1.0) / expr(
              "cast(shiftleft(cast(1 as bigint), cast(m as int) - 1) as double)")),
            6).as("ewma"))
        .orderBy(col("user_id"))
    },
    s"""WITH $EV,
       |r AS (SELECT user_id, value, row_number() OVER (
       |    PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn
       |  FROM ev WHERE value IS NOT NULL),
       |t AS (SELECT user_id,
       |    CAST(value / CAST(CAST(1 AS BIGINT) << (rn - 1) AS DOUBLE)
       |      AS DECIMAL(38,24)) AS term
       |  FROM r WHERE rn <= 20),
       |a AS (SELECT user_id, CAST(sum(term) AS DOUBLE) AS num,
       |    CAST(count(*) AS BIGINT) AS m FROM t GROUP BY 1)
       |SELECT user_id, m AS n_used,
       |  round(num / (CAST(2 AS DOUBLE) - CAST(1 AS DOUBLE)
       |    / CAST(CAST(1 AS BIGINT) << (m - 1) AS DOUBLE)), 6) AS ewma
       |FROM a ORDER BY user_id""".stripMargin)

  /** Transitive entity clusters over the master table itself
    * ([[graft.ops.Linkage.blockedPairs]] →
    * [[graft.ops.Dedup.duplicateClusters]]): customers whose names are
    * within edit distance 2 inside a (nation, last-char) block form
    * fuzzy-duplicate components — the master-data dedup shape, where
    * pairwise dropping would over-delete A~B~C chains. Cluster id =
    * component minimum (the q_dup_clusters hash-min contract, mirrored
    * by the oracle's recursive closure). Components cannot span blocks,
    * so the closure recursion is block-bounded. */
  val qEntityClusters: Q = "q_entity_clusters" -> (
    (s: SparkSession, d: String) => {
      val m = Tables.customer(s, d)
        .withColumn("blk", expr("right(c_name, 1)"))
      val pairs = graft.ops.Linkage.blockedPairs(m,
        Seq("c_nationkey", "blk"), "c_custkey", "c_name", maxDist = 2)
      graft.ops.Dedup.duplicateClusters(pairs)
        .select(col("id").as("c_custkey"), col("cluster_id"))
        .orderBy(col("c_custkey"))
    },
    """WITH RECURSIVE m AS (SELECT c_custkey, c_nationkey, c_name,
      |    right(c_name, 1) AS blk FROM customer),
      |p AS (SELECT x.c_custkey AS id_a, y.c_custkey AS id_b
      |  FROM m x JOIN m y ON x.c_nationkey = y.c_nationkey
      |    AND x.blk = y.blk AND x.c_custkey < y.c_custkey
      |  WHERE abs(length(x.c_name) - length(y.c_name)) <= 2
      |    AND levenshtein(x.c_name, y.c_name) <= 2),
      |e AS (SELECT id_a AS src, id_b AS dst FROM p
      |  UNION ALL SELECT id_b, id_a FROM p),
      |v AS (SELECT DISTINCT src AS id FROM e),
      |reach(id, r) AS (
      |  SELECT id, id FROM v
      |  UNION
      |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id)
      |SELECT id AS c_custkey, min(r) AS cluster_id
      |FROM reach GROUP BY id ORDER BY c_custkey""".stripMargin)

  /** Personalized PageRank ([[graft.ops.Graph.personalizedPageRank]]):
    * reset mass lands only on a seed set (parts ≡ 0 mod 97), so rank
    * concentrates in the seeds' co-purchase neighborhood — the
    * "related items" form of the centrality loop. Same bit-exactness
    * contract as q_pagerank (fixed-point long sums, shared IEEE scalar
    * steps); the seed predicate is intersected with the node set on
    * both sides, so any superset seed source gives the same vector. */
  val qPpr: Q = "q_ppr" -> (
    (s: SparkSession, d: String) => {
      val edges = graft.ops.Graph.copurchaseEdges(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minItemSupport = 5)
      val seeds = Tables.lineitem(s, d)
        .select(col("l_partkey").as("part")).distinct()
        .filter(col("part") % 97 === 0)
      graft.ops.Graph.personalizedPageRank(edges, "src", "dst",
          seeds, "part", iters = 3, damping = 0.85, edgesDistinct = true)
        .select(col("node").as("part"), round(col("rank"), 6).as("rank"))
        .orderBy(col("rank").desc, col("part")).limit(15)
    },
    """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
      |    FROM lineitem),
      |f AS (SELECT item FROM b GROUP BY item HAVING count(*) >= 5),
      |fb AS (SELECT b.basket, b.item FROM b JOIN f USING (item)),
      |e AS (SELECT DISTINCT x.item AS src, y.item AS dst
      |  FROM fb x JOIN fb y ON x.basket = y.basket AND x.item <> y.item),
      |d AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
      |nodes AS (SELECT DISTINCT src AS node FROM e),
      |ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes
      |  WHERE node % 97 = 0),
      |r0 AS (SELECT node, CASE WHEN node % 97 = 0
      |    THEN CAST(1 AS DOUBLE) / ns.n ELSE CAST(0 AS DOUBLE) END AS rank
      |  FROM nodes, ns),
      |m1 AS (SELECT e.dst AS node,
      |    CAST(sum(CAST(floor(r0.rank / d.deg * 1e18) AS BIGINT)) AS BIGINT) AS im
      |  FROM e JOIN d USING (src) JOIN r0 ON r0.node = e.src GROUP BY 1),
      |r1 AS (SELECT m1.node, CASE WHEN m1.node % 97 = 0
      |    THEN (CAST(1 AS DOUBLE) - 0.85) / ns.n ELSE CAST(0 AS DOUBLE) END
      |    + 0.85 * (CAST(im AS DOUBLE) / 1e18) AS rank FROM m1, ns),
      |m2 AS (SELECT e.dst AS node,
      |    CAST(sum(CAST(floor(r1.rank / d.deg * 1e18) AS BIGINT)) AS BIGINT) AS im
      |  FROM e JOIN d USING (src) JOIN r1 ON r1.node = e.src GROUP BY 1),
      |r2 AS (SELECT m2.node, CASE WHEN m2.node % 97 = 0
      |    THEN (CAST(1 AS DOUBLE) - 0.85) / ns.n ELSE CAST(0 AS DOUBLE) END
      |    + 0.85 * (CAST(im AS DOUBLE) / 1e18) AS rank FROM m2, ns),
      |m3 AS (SELECT e.dst AS node,
      |    CAST(sum(CAST(floor(r2.rank / d.deg * 1e18) AS BIGINT)) AS BIGINT) AS im
      |  FROM e JOIN d USING (src) JOIN r2 ON r2.node = e.src GROUP BY 1),
      |r3 AS (SELECT m3.node, CASE WHEN m3.node % 97 = 0
      |    THEN (CAST(1 AS DOUBLE) - 0.85) / ns.n ELSE CAST(0 AS DOUBLE) END
      |    + 0.85 * (CAST(im AS DOUBLE) / 1e18) AS rank FROM m3, ns)
      |SELECT node AS part, round(rank, 6) AS rank FROM r3
      |ORDER BY round(rank, 6) DESC, part LIMIT 15""".stripMargin)

  /** Truncated Katz centrality ([[graft.ops.Graph.katzCentrality]]):
    * walk-counting influence over the co-purchase graph, three hops,
    * dyadic α=1/4 — every value is an exact multiple of 4⁻³, so plain
    * double sums are order-free exact and the unrolled oracle
    * recurrence matches bit-for-bit with NO fixed-point scaling (the
    * third exactness discipline in the graph family, next to
    * q_pagerank's floor·1e18 longs and q_ewma's dyadic weights). */
  val qKatz: Q = "q_katz" -> (
    (s: SparkSession, d: String) => {
      val edges = graft.ops.Graph.copurchaseEdges(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minItemSupport = 5)
      graft.ops.Graph.katzCentrality(edges, "src", "dst", iters = 3,
          edgesDistinct = true)
        .select(col("node").as("part"), round(col("x"), 6).as("katz"))
        .orderBy(col("katz").desc, col("part")).limit(20)
    },
    """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
      |    FROM lineitem),
      |f AS (SELECT item FROM b GROUP BY item HAVING count(*) >= 5),
      |fb AS (SELECT b.basket, b.item FROM b JOIN f USING (item)),
      |e AS (SELECT DISTINCT x.item AS src, y.item AS dst
      |  FROM fb x JOIN fb y ON x.basket = y.basket AND x.item <> y.item),
      |x1 AS (SELECT dst AS node, CAST(count(*) AS DOUBLE) / 4 AS x
      |  FROM e GROUP BY 1),
      |x2 AS (SELECT e.dst AS node, sum(1 + x1.x) / 4 AS x
      |  FROM e JOIN x1 ON x1.node = e.src GROUP BY 1),
      |x3 AS (SELECT e.dst AS node, sum(1 + x2.x) / 4 AS x
      |  FROM e JOIN x2 ON x2.node = e.src GROUP BY 1)
      |SELECT node AS part, round(x, 6) AS katz FROM x3
      |ORDER BY round(x, 6) DESC, part LIMIT 20""".stripMargin)

  /** PageRank with dangling-node redistribution
    * ([[graft.ops.Graph.pageRank]] `dangling = true`) on a genuinely
    * DIRECTED graph with sinks: part → supplier "stocked by" edges
    * (suppliers never appear as sources, so every supplier is a sink;
    * parts have in-degree 0, so this also pins the keep-every-node-row
    * left join). Supplier ids are offset by 1e6 to keep the two key
    * spaces disjoint. Each iteration redistributes the sink mass
    * uniformly on the fixed-point grid — the dangling share is an
    * integer `dm div n`, NOT a double division (dm ≈ 1e18 > 2^53), so
    * ranks stay bit-replayable by the unrolled oracle. */
  val qPageRankDirected: Q = "q_pagerank_directed" -> (
    (s: SparkSession, d: String) => {
      val edges = Tables.lineitem(s, d)
        .select(col("l_partkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
        .distinct()
      graft.ops.Graph.pageRank(edges, "src", "dst", iters = 3,
          damping = 0.85, dangling = true, edgesDistinct = true)
        .select(col("node"), round(col("rank"), 6).as("rank"))
        .orderBy(col("rank").desc, col("node")).limit(25)
    },
    """WITH e AS (SELECT DISTINCT l_partkey AS src,
      |    CAST(l_suppkey + 1000000 AS BIGINT) AS dst FROM lineitem),
      |d AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
      |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
      |sinks AS (SELECT node FROM nodes
      |  WHERE node NOT IN (SELECT src FROM e)),
      |r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS rank FROM nodes, nn),
      |m1 AS (SELECT e.dst AS node,
      |    CAST(sum(CAST(floor(r0.rank / d.deg * 1e18) AS BIGINT)) AS BIGINT) AS im
      |  FROM e JOIN d USING (src) JOIN r0 ON r0.node = e.src GROUP BY 1),
      |ds1 AS (SELECT COALESCE(CAST(sum(CAST(floor(r0.rank * 1e18) AS BIGINT))
      |    AS BIGINT), 0) // nn.n AS dshare
      |  FROM r0 JOIN sinks USING (node), nn GROUP BY nn.n),
      |r1 AS (SELECT nodes.node, (CAST(1 AS DOUBLE) - 0.85) / nn.n
      |    + 0.85 * (CAST(COALESCE(m1.im, 0) + ds1.dshare AS DOUBLE) / 1e18) AS rank
      |  FROM nodes LEFT JOIN m1 USING (node), nn, ds1),
      |m2 AS (SELECT e.dst AS node,
      |    CAST(sum(CAST(floor(r1.rank / d.deg * 1e18) AS BIGINT)) AS BIGINT) AS im
      |  FROM e JOIN d USING (src) JOIN r1 ON r1.node = e.src GROUP BY 1),
      |ds2 AS (SELECT COALESCE(CAST(sum(CAST(floor(r1.rank * 1e18) AS BIGINT))
      |    AS BIGINT), 0) // nn.n AS dshare
      |  FROM r1 JOIN sinks USING (node), nn GROUP BY nn.n),
      |r2 AS (SELECT nodes.node, (CAST(1 AS DOUBLE) - 0.85) / nn.n
      |    + 0.85 * (CAST(COALESCE(m2.im, 0) + ds2.dshare AS DOUBLE) / 1e18) AS rank
      |  FROM nodes LEFT JOIN m2 USING (node), nn, ds2),
      |m3 AS (SELECT e.dst AS node,
      |    CAST(sum(CAST(floor(r2.rank / d.deg * 1e18) AS BIGINT)) AS BIGINT) AS im
      |  FROM e JOIN d USING (src) JOIN r2 ON r2.node = e.src GROUP BY 1),
      |ds3 AS (SELECT COALESCE(CAST(sum(CAST(floor(r2.rank * 1e18) AS BIGINT))
      |    AS BIGINT), 0) // nn.n AS dshare
      |  FROM r2 JOIN sinks USING (node), nn GROUP BY nn.n),
      |r3 AS (SELECT nodes.node, (CAST(1 AS DOUBLE) - 0.85) / nn.n
      |    + 0.85 * (CAST(COALESCE(m3.im, 0) + ds3.dshare AS DOUBLE) / 1e18) AS rank
      |  FROM nodes LEFT JOIN m3 USING (node), nn, ds3)
      |SELECT node, round(rank, 6) AS rank FROM r3
      |ORDER BY round(rank, 6) DESC, node LIMIT 25""".stripMargin)

  /** k-anonymity / l-diversity audit ([[graft.ops.Privacy]]): before a
    * per-group view of the customer table ships, every (nation,
    * segment) quasi-identifier combination must cover ≥ k customers and
    * ≥ l distinct balance buckets — the governance gate next to
    * q_pii_scrub's content scrubbing. One hash aggregation; all-integer
    * output. */
  val qKanon: Q = "q_kanon" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Privacy.kAnonymityAudit(
          Tables.customer(s, d)
            .withColumn("bal_bucket",
              floor(col("c_acctbal") / lit(1000.0)).cast("long")),
          Seq("c_nationkey", "c_mktsegment"), "bal_bucket", k = 10L, l = 3L)
        .orderBy(col("c_nationkey"), col("c_mktsegment")),
    """SELECT c_nationkey, c_mktsegment,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT))
      |    AS BIGINT) AS l,
      |  CAST(CASE WHEN count(*) < 10 THEN 1 ELSE 0 END AS BIGINT) AS k_risk,
      |  CAST(CASE WHEN count(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT)) < 3
      |    THEN 1 ELSE 0 END AS BIGINT) AS l_risk
      |FROM customer GROUP BY 1, 2
      |ORDER BY c_nationkey, c_mktsegment""".stripMargin)

  /** Normalization effect card: the corpus-prep first stage
    * (lower/trim/whitespace-collapse, the engine-wide $NORM) measured
    * per source — how many characters and tokens the pass removes.
    * Integer-sum-only output, so the oracle comparison is exact; one
    * map-only projection + one hash aggregation. */
  val qNormalize: Q = "q_normalize" -> (
    (s: SparkSession, d: String) => {
      val norm = Text.normText(col("text"))
      Tables.documents(s, d)
        .select(col("source"),
          length(col("text")).cast("long").as("raw_chars"),
          length(norm).cast("long").as("norm_chars"),
          size(split(col("text"), "\\s+")).cast("long").as("raw_tokens"),
          size(split(norm, " ")).cast("long").as("norm_tokens"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("raw_chars")).as("raw_chars"),
          sum(col("norm_chars")).as("norm_chars"),
          sum(col("raw_tokens")).as("raw_tokens"),
          sum(col("norm_tokens")).as("norm_tokens"))
        .orderBy(col("source"))
    },
    s"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(length(text)) AS BIGINT) AS raw_chars,
       |  CAST(sum(length($NORM)) AS BIGINT) AS norm_chars,
       |  CAST(sum(len(regexp_split_to_array(text, '\\s+'))) AS BIGINT)
       |    AS raw_tokens,
       |  CAST(sum(len($TOKS)) AS BIGINT) AS norm_tokens
       |FROM documents GROUP BY 1 ORDER BY source""".stripMargin)

  /** Per-node triangle counts + local clustering coefficient
    * ([[graft.ops.Graph.triangleCounts]]) over the co-purchase graph:
    * the cohesion card next to q_pagerank's centrality. The op orients
    * every edge from the smaller-(degree, id) endpoint, so each
    * triangle is emitted by exactly one wedge and the wedge volume is
    * bounded by O(|E|^1.5) REGARDLESS of hub skew — the oracle mirrors
    * the same orientation, so both engines enumerate identical wedge
    * sets. All-integer until one IEEE division per node at the end. */
  val qTriangles: Q = "q_triangles" -> (
    (s: SparkSession, d: String) => {
      val edges = graft.ops.Graph.copurchaseEdges(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minItemSupport = 5)
      graft.ops.Graph.triangleCounts(edges, "src", "dst",
          symmetricDistinct = true)
        .select(col("node").as("part"), col("deg"), col("triangles"),
          round(col("lcc"), 6).as("lcc"))
        .orderBy(col("part"))
    },
    """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
      |    FROM lineitem),
      |f AS (SELECT item FROM b GROUP BY item HAVING count(*) >= 5),
      |fb AS (SELECT b.basket, b.item FROM b JOIN f USING (item)),
      |e AS (SELECT DISTINCT least(x.item, y.item) AS a,
      |    greatest(x.item, y.item) AS b
      |  FROM fb x JOIN fb y ON x.basket = y.basket AND x.item <> y.item),
      |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
      |    SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
      |o AS (SELECT
      |    CASE WHEN x.deg < y.deg OR (x.deg = y.deg AND e.a < e.b)
      |      THEN e.a ELSE e.b END AS u,
      |    CASE WHEN x.deg < y.deg OR (x.deg = y.deg AND e.a < e.b)
      |      THEN e.b ELSE e.a END AS v,
      |    greatest(x.deg, y.deg) AS dv
      |  FROM e JOIN deg x ON x.node = e.a JOIN deg y ON y.node = e.b),
      |tri AS (SELECT w1.u AS u, w1.v AS x, w2.v AS y
      |  FROM o w1 JOIN o w2 ON w1.u = w2.u
      |    AND (w1.dv < w2.dv OR (w1.dv = w2.dv AND w1.v < w2.v))
      |  JOIN o w3 ON w3.u = w1.v AND w3.v = w2.v),
      |c AS (SELECT u AS node FROM tri UNION ALL SELECT x FROM tri
      |  UNION ALL SELECT y FROM tri),
      |t AS (SELECT node, CAST(count(*) AS BIGINT) AS t FROM c GROUP BY 1)
      |SELECT deg.node AS part, deg.deg AS deg,
      |  COALESCE(t.t, 0) AS triangles,
      |  CASE WHEN deg.deg >= 2
      |    THEN round(2.0 * COALESCE(t.t, 0)
      |      / CAST(deg.deg * (deg.deg - 1) AS DOUBLE), 6)
      |    ELSE 0.0 END AS lcc
      |FROM deg LEFT JOIN t USING (node) ORDER BY part""".stripMargin)

  /** Truncated HITS hubs/authorities ([[graft.ops.Graph.hits]]) on the
    * genuinely DIRECTED part → supplier "stocked by" graph (supplier
    * keys offset 1e6 to keep the id spaces disjoint, the
    * q_pagerank_directed convention): parts are pure hubs, suppliers
    * pure authorities, so the query pins both zero-score row-keep
    * contracts at once. Iterates are exact walk-count longs (no
    * per-round normalization — the 2^53 guard bounds them), one L1
    * division per score at the end. */
  val qHits: Q = "q_hits" -> (
    (s: SparkSession, d: String) => {
      val edges = Tables.lineitem(s, d)
        .select(col("l_partkey").as("src"),
          (col("l_suppkey") + lit(1000000L)).as("dst"))
        .distinct()
      graft.ops.Graph.hits(edges, "src", "dst", iters = 2,
          edgesDistinct = true)
        .select(col("node"), round(col("hub"), 6).as("hub"),
          round(col("auth"), 6).as("auth"))
        .orderBy(col("auth").desc, col("hub").desc, col("node")).limit(30)
    },
    """WITH e AS (SELECT DISTINCT l_partkey AS src,
      |    CAST(l_suppkey + 1000000 AS BIGINT) AS dst FROM lineitem),
      |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
      |h0 AS (SELECT node, CAST(1 AS BIGINT) AS h FROM nodes),
      |a1 AS (SELECT nodes.node, COALESCE(s.s, CAST(0 AS BIGINT)) AS a
      |  FROM nodes LEFT JOIN (SELECT e.dst AS node,
      |      CAST(sum(h0.h) AS BIGINT) AS s
      |    FROM e JOIN h0 ON h0.node = e.src GROUP BY 1) s USING (node)),
      |h1 AS (SELECT nodes.node, COALESCE(s.s, CAST(0 AS BIGINT)) AS h
      |  FROM nodes LEFT JOIN (SELECT e.src AS node,
      |      CAST(sum(a1.a) AS BIGINT) AS s
      |    FROM e JOIN a1 ON a1.node = e.dst GROUP BY 1) s USING (node)),
      |a2 AS (SELECT nodes.node, COALESCE(s.s, CAST(0 AS BIGINT)) AS a
      |  FROM nodes LEFT JOIN (SELECT e.dst AS node,
      |      CAST(sum(h1.h) AS BIGINT) AS s
      |    FROM e JOIN h1 ON h1.node = e.src GROUP BY 1) s USING (node)),
      |h2 AS (SELECT nodes.node, COALESCE(s.s, CAST(0 AS BIGINT)) AS h
      |  FROM nodes LEFT JOIN (SELECT e.src AS node,
      |      CAST(sum(a2.a) AS BIGINT) AS s
      |    FROM e JOIN a2 ON a2.node = e.dst GROUP BY 1) s USING (node)),
      |tot AS (SELECT CAST(sum(h2.h) AS BIGINT) AS th,
      |    CAST(sum(a2.a) AS BIGINT) AS ta
      |  FROM h2 JOIN a2 USING (node))
      |SELECT h2.node AS node,
      |  round(CAST(h2.h AS DOUBLE) / CAST(tot.th AS DOUBLE), 6) AS hub,
      |  round(CAST(a2.a AS DOUBLE) / CAST(tot.ta AS DOUBLE), 6) AS auth
      |FROM h2 JOIN a2 USING (node), tot
      |ORDER BY round(CAST(a2.a AS DOUBLE) / CAST(tot.ta AS DOUBLE), 6) DESC,
      |  round(CAST(h2.h AS DOUBLE) / CAST(tot.th AS DOUBLE), 6) DESC, node
      |LIMIT 30""".stripMargin)

  /** Synchronous label-propagation communities
    * ([[graft.ops.Graph.labelPropagation]]) over the co-purchase graph
    * with the deterministic smallest-label tie-break: finer structure
    * than q_dup_clusters' connected components (a sparse bridge between
    * two dense neighborhoods splits), coarser than q_triangles' local
    * view. Three synchronous rounds, unrolled bit-for-bit by the
    * oracle — all-integer, no RNG. Output: the full per-node label
    * assignment (every node checked, not a summary). */
  val qLpa: Q = "q_lpa" -> (
    (s: SparkSession, d: String) => {
      val edges = graft.ops.Graph.copurchaseEdges(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minItemSupport = 5)
      graft.ops.Graph.labelPropagation(edges, "src", "dst", iters = 3,
          symmetricDistinct = true)
        .select(col("node").as("part"), col("label").as("community"))
        .orderBy(col("part"))
    },
    """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
      |    FROM lineitem),
      |f AS (SELECT item FROM b GROUP BY item HAVING count(*) >= 5),
      |fb AS (SELECT b.basket, b.item FROM b JOIN f USING (item)),
      |e AS (SELECT DISTINCT x.item AS src, y.item AS dst
      |  FROM fb x JOIN fb y ON x.basket = y.basket AND x.item <> y.item),
      |nodes AS (SELECT DISTINCT src AS node FROM e),
      |l0 AS (SELECT node, node AS label FROM nodes),
      |c1 AS (SELECT e.dst AS node, l0.label, count(*) AS cnt
      |  FROM e JOIN l0 ON l0.node = e.src GROUP BY 1, 2),
      |t1 AS (SELECT node, label FROM (SELECT node, label, row_number()
      |    OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn FROM c1)
      |  WHERE rn = 1),
      |l1 AS (SELECT nodes.node, COALESCE(t1.label, nodes.node) AS label
      |  FROM nodes LEFT JOIN t1 USING (node)),
      |c2 AS (SELECT e.dst AS node, l1.label, count(*) AS cnt
      |  FROM e JOIN l1 ON l1.node = e.src GROUP BY 1, 2),
      |t2 AS (SELECT node, label FROM (SELECT node, label, row_number()
      |    OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn FROM c2)
      |  WHERE rn = 1),
      |l2 AS (SELECT nodes.node, COALESCE(t2.label, nodes.node) AS label
      |  FROM nodes LEFT JOIN t2 USING (node)),
      |c3 AS (SELECT e.dst AS node, l2.label, count(*) AS cnt
      |  FROM e JOIN l2 ON l2.node = e.src GROUP BY 1, 2),
      |t3 AS (SELECT node, label FROM (SELECT node, label, row_number()
      |    OVER (PARTITION BY node ORDER BY cnt DESC, label) AS rn FROM c3)
      |  WHERE rn = 1),
      |l3 AS (SELECT nodes.node, COALESCE(t3.label, nodes.node) AS label
      |  FROM nodes LEFT JOIN t3 USING (node))
      |SELECT node AS part, label AS community FROM l3
      |ORDER BY part""".stripMargin)

  /** Visually-near-duplicate image detection end-to-end
    * ([[graft.ops.Multimodal.imageNearDup]]): every document id becomes
    * a REAL 9×8 BMP (deterministic per-pixel arithmetic → real encode →
    * real ImageIO decode → 64-bit dHash), grouped into families of four
    * where three members carry a one-pixel perturbation — the re-encoded
    * /slightly-retouched duplicate shape an image-dedup pass must catch.
    * Pairs via 4×16-bit hash banding (exact for Hamming ≤ 3 by
    * pigeonhole, never all-pairs); the oracle replays the pixel→
    * luminance→gradient-bit arithmetic in SQL (the BMP round-trip is
    * lossless, so pixels are computable on both sides) and verifies with
    * a direct all-pairs Hamming filter. */
  /** Synthetic image corpus for the perceptual-hash queries: every doc
    * id becomes a real 9×8 BMP in a family of four (f = id/4) where
    * members 1..3 carry a one-pixel perturbation. Pixels come from a
    * per-pixel NONLINEAR byte hash (multiply → xor-fold → multiply,
    * exact in the 2^32/2^16 rings both engines share): a purely
    * multiplicative byte is a golden-rotation Sturmian sequence in k
    * whose gradient-sign windows take only ~65 distinct values
    * (three-distance theorem) — whole families would collide. The
    * xor-fold breaks linearity, decorrelating families to ~random
    * 64-bit hashes, so only true within-family variants pair. */
  private def syntheticImages(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ids = Tables.documents(s, d).select(col("doc_id").cast("long")).as[Long]
    ids.mapPartitions { it =>
      it.map { id =>
        val f = id / 4; val v = (id % 4).toInt
        def hb(k: Long, c1: Long, add: Long): Long = {
          val u0 = (k * c1 + add) % 4294967296L
          val u1 = (u0 ^ (u0 >> 16)) % 65536L
          (u1 * 40503L) % 65536L / 256L
        }
        val bytes = Multimodal.encodeBmp(9, 8, (x, y) => {
          val k = f * 72 + y * 9 + x
          val pr = if (x == v && y == v) v * 77 else 0
          val r = (hb(k, 2654435761L, 1) + pr) % 256
          val g = hb(k, 2246822519L, 7)
          val b = hb(k, 3266489917L, 13)
          ((r << 16) | (g << 8) | b).toInt
        })
        (id, bytes)
      }
    }.toDF("media_id", "content")
  }

  /** Shared oracle for the image near-dup pair set (one-shot AND the
    * stored lifecycle — the union of per-batch emissions equals the
    * one-shot pair set by the strictly-earlier-tag contract): replays
    * the pixel→luminance→gradient-bit arithmetic in SQL and verifies
    * with a direct all-pairs Hamming filter. */
  private val IMG_PAIRS_SQL: String =
    """WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS id,
      |    doc_id // 4 AS f, doc_id % 4 AS v FROM documents),
      |px AS (SELECT id, v, r, c, f*72 + r*9 + c AS k
      |  FROM ids, unnest(range(0, 8)) t1(r), unnest(range(0, 9)) t2(c)),
      |u0 AS (SELECT id, v, r, c,
      |    (k*2654435761 + 1) % 4294967296 AS ur,
      |    (k*2246822519 + 7) % 4294967296 AS ug,
      |    (k*3266489917 + 13) % 4294967296 AS ub
      |  FROM px),
      |ch AS (SELECT id, v, r, c,
      |    ((xor(ur, ur // 65536) % 65536) * 40503) % 65536 // 256 AS rb,
      |    ((xor(ug, ug // 65536) % 65536) * 40503) % 65536 // 256 AS gb,
      |    ((xor(ub, ub // 65536) % 65536) * 40503) % 65536 // 256 AS bb
      |  FROM u0),
      |lum AS (SELECT id, r, c,
      |    0.299 * ((rb + CASE WHEN c = v AND r = v THEN v*77 ELSE 0 END) % 256)
      |  + 0.587 * gb
      |  + 0.114 * bb AS l
      |  FROM ch),
      |bits AS (SELECT a.id, a.r, a.c
      |  FROM lum a JOIN lum b ON b.id = a.id AND b.r = a.r AND b.c = a.c + 1
      |  WHERE a.c < 8 AND b.l > a.l),
      |h AS (SELECT ids.id,
      |    COALESCE(sum(CAST(1 AS HUGEINT) << (bits.r * 8 + bits.c)),
      |      CAST(0 AS HUGEINT)) AS dh
      |  FROM ids LEFT JOIN bits ON bits.id = ids.id GROUP BY ids.id)
      |SELECT a.id AS id_a, b.id AS id_b,
      |  CAST(bit_count(xor(a.dh, b.dh)) AS BIGINT) AS hamming
      |FROM h a JOIN h b ON a.id < b.id
      |WHERE bit_count(xor(a.dh, b.dh)) <= 3
      |ORDER BY id_a, id_b""".stripMargin

  val qImageNearDup: Q = "q_image_neardup" -> (
    (s: SparkSession, d: String) =>
      Multimodal.imageNearDup(syntheticImages(s, d), maxHamming = 3)
        .orderBy(col("id_a"), col("id_b")),
    IMG_PAIRS_SQL)

  /** Incremental image near-dup lifecycle
    * ([[graft.ops.Multimodal.dhashStoreAppend]]): the synthetic corpus
    * arrives in three slices, each appending its dHash signatures and
    * emitting exactly its new pairs against the strictly-earlier store —
    * the union of emissions must equal the ONE-SHOT pair set (the same
    * oracle as q_image_neardup), which is the whole exactly-once
    * contract in one hash comparison. Store at a content-addressed
    * artifact path, so a testdata regeneration invalidates it. */
  val qImageNearDupStored: Q = "q_image_neardup_stored" -> (
    (s: SparkSession, d: String) => {
      val path = codebookPath(d, "dhash_sig_store")
      val media = syntheticImages(s, d)
      (0 until 3).map { i =>
        Multimodal.dhashStoreAppend(
          media.filter(pmod(col("media_id"), lit(3)) === i),
          path, s"slice_$i")
      }.reduce(_ unionAll _)
        .select(col("id_a"), col("id_b"), col("hamming"))
        .orderBy(col("id_a"), col("id_b"))
    },
    IMG_PAIRS_SQL)

  /** Common-neighbor link prediction
    * ([[graft.ops.Graph.commonNeighborLinks]]) over the co-purchase
    * graph: the strongest NOT-yet-co-purchased part pairs by shared
    * neighborhood — the "customers also bought" candidate generator.
    * Hub parts (degree > 96) are excluded as wedge centers (sharing a
    * hub certifies nothing — the BM25-df-cap reasoning), which is also
    * the scale lever: wedge volume ≤ cap·2|E|, linear in |E|. All-
    * integer scores, deterministic top-25. */
  val qLinkPredict: Q = "q_link_predict" -> (
    (s: SparkSession, d: String) => {
      val edges = graft.ops.Graph.copurchaseEdges(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minItemSupport = 5)
      graft.ops.Graph.commonNeighborLinks(edges, "src", "dst",
          maxCenterDeg = 96, minCommon = 4, symmetricDistinct = true)
        .orderBy(col("common").desc, col("node_a"), col("node_b"))
        .limit(25)
    },
    """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
      |    FROM lineitem),
      |f AS (SELECT item FROM b GROUP BY item HAVING count(*) >= 5),
      |fb AS (SELECT b.basket, b.item FROM b JOIN f USING (item)),
      |e0 AS (SELECT DISTINCT x.item AS src, y.item AS dst
      |  FROM fb x JOIN fb y ON x.basket = y.basket AND x.item <> y.item),
      |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |  FROM e0),
      |adj AS (SELECT a AS w, b AS n FROM e UNION ALL SELECT b, a FROM e),
      |ctr AS (SELECT w FROM adj GROUP BY w HAVING count(*) <= 96),
      |ak AS (SELECT adj.w, adj.n FROM adj JOIN ctr USING (w)),
      |wg AS (SELECT x.n AS node_a, y.n AS node_b
      |  FROM ak x JOIN ak y ON x.w = y.w AND x.n < y.n),
      |cn AS (SELECT node_a, node_b, CAST(count(*) AS BIGINT) AS common
      |  FROM wg GROUP BY 1, 2 HAVING count(*) >= 4),
      |p AS (SELECT cn.node_a, cn.node_b, cn.common FROM cn
      |  WHERE NOT EXISTS (SELECT 1 FROM e
      |    WHERE e.a = cn.node_a AND e.b = cn.node_b))
      |SELECT node_a, node_b, common FROM p
      |ORDER BY common DESC, node_a, node_b LIMIT 25""".stripMargin)

  /** k-core decomposition ([[graft.ops.Graph.kCore]]) of the
    * co-purchase graph: the dense trading core that survives when every
    * part must keep ≥ 80 in-core neighbors — the subgraph a
    * recommendation/curriculum pass would mine first. Spark iterates
    * the peel to the (unique, order-independent) fixpoint; the oracle
    * unrolls 8 peels — more than the measured convergence depth at both
    * graded scales (6), and EXTRA peels of a converged core are no-ops,
    * so the unroll count only needs to be ≥ the true depth. */
  val qKcore: Q = "q_kcore" -> (
    (s: SparkSession, d: String) => {
      val edges = graft.ops.Graph.copurchaseEdges(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minItemSupport = 5)
      graft.ops.Graph.kCore(edges, "src", "dst", k = 80L,
          symmetricDistinct = true)
        .select(col("node").as("part"), col("core_deg"))
        .orderBy(col("part"))
    },
    """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
      |    FROM lineitem),
      |f AS (SELECT item FROM b GROUP BY item HAVING count(*) >= 5),
      |fb AS (SELECT b.basket, b.item FROM b JOIN f USING (item)),
      |e0 AS MATERIALIZED (SELECT DISTINCT x.item AS src, y.item AS dst
      |  FROM fb x JOIN fb y ON x.basket = y.basket AND x.item <> y.item),
      |k1 AS MATERIALIZED (SELECT src AS node FROM e0 GROUP BY src HAVING count(*) >= 80),
      |e1 AS MATERIALIZED (SELECT e0.src, e0.dst FROM e0
      |  JOIN k1 a ON a.node = e0.src JOIN k1 b ON b.node = e0.dst),
      |k2 AS MATERIALIZED (SELECT src AS node FROM e1 GROUP BY src HAVING count(*) >= 80),
      |e2 AS MATERIALIZED (SELECT e1.src, e1.dst FROM e1
      |  JOIN k2 a ON a.node = e1.src JOIN k2 b ON b.node = e1.dst),
      |k3 AS MATERIALIZED (SELECT src AS node FROM e2 GROUP BY src HAVING count(*) >= 80),
      |e3 AS MATERIALIZED (SELECT e2.src, e2.dst FROM e2
      |  JOIN k3 a ON a.node = e2.src JOIN k3 b ON b.node = e2.dst),
      |k4 AS MATERIALIZED (SELECT src AS node FROM e3 GROUP BY src HAVING count(*) >= 80),
      |e4 AS MATERIALIZED (SELECT e3.src, e3.dst FROM e3
      |  JOIN k4 a ON a.node = e3.src JOIN k4 b ON b.node = e3.dst),
      |k5 AS MATERIALIZED (SELECT src AS node FROM e4 GROUP BY src HAVING count(*) >= 80),
      |e5 AS MATERIALIZED (SELECT e4.src, e4.dst FROM e4
      |  JOIN k5 a ON a.node = e4.src JOIN k5 b ON b.node = e4.dst),
      |k6 AS MATERIALIZED (SELECT src AS node FROM e5 GROUP BY src HAVING count(*) >= 80),
      |e6 AS MATERIALIZED (SELECT e5.src, e5.dst FROM e5
      |  JOIN k6 a ON a.node = e5.src JOIN k6 b ON b.node = e5.dst),
      |k7 AS MATERIALIZED (SELECT src AS node FROM e6 GROUP BY src HAVING count(*) >= 80),
      |e7 AS MATERIALIZED (SELECT e6.src, e6.dst FROM e6
      |  JOIN k7 a ON a.node = e6.src JOIN k7 b ON b.node = e6.dst),
      |k8 AS MATERIALIZED (SELECT src AS node FROM e7 GROUP BY src HAVING count(*) >= 80),
      |e8 AS MATERIALIZED (SELECT e7.src, e7.dst FROM e7
      |  JOIN k8 a ON a.node = e7.src JOIN k8 b ON b.node = e7.dst)
      |SELECT src AS part, CAST(count(*) AS BIGINT) AS core_deg
      |FROM e8 GROUP BY src ORDER BY part""".stripMargin)

  /** Per-source readability card ([[graft.ops.TextStats.readability]]):
    * Automated Readability Index over exact integer counts (no syllable
    * heuristics — ARI needs only chars/words/sentences, so the group
    * sums are bit-exact and the single double formula replays
    * identically). The corpus-mixing signal next to q_quality's
    * length/punct ratios. */
  val qReadability: Q = "q_readability" -> (
    (s: SparkSession, d: String) =>
      graft.ops.TextStats.readability(Tables.documents(s, d), "source")
        .orderBy(col("source")),
    s"""WITH d AS (SELECT source,
       |    CAST(len($TOKS) AS BIGINT) AS w,
       |    CAST(length($NORM) AS BIGINT) - CAST(len($TOKS) AS BIGINT) + 1 AS c,
       |    greatest(CAST(1 AS BIGINT), CAST(length(text) -
       |      length(regexp_replace(text, '[.!?]', '', 'g')) AS BIGINT)) AS s
       |  FROM documents)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(c) AS BIGINT) AS chars, CAST(sum(w) AS BIGINT) AS words,
       |  CAST(sum(s) AS BIGINT) AS sentences,
       |  round(4.71 * CAST(sum(c) AS DOUBLE) / CAST(sum(w) AS DOUBLE)
       |    + 0.5 * CAST(sum(w) AS DOUBLE) / CAST(sum(s) AS DOUBLE)
       |    - 21.43, 6) AS ari
       |FROM d GROUP BY source ORDER BY source""".stripMargin)

  /** MMR diversified re-rank ([[graft.ops.Ann.mmrRerank]]): greedy
    * relevance-minus-redundancy selection over an 8-deep exact
    * shortlist, λ = 1/2 (dyadic ⇒ both score terms are exact halvings,
    * so the oracle's unrolled two-step greedy replays bit-identically).
    * The pass between ANN and the consumer that stops near-identical
    * top hits from monopolizing the result slots. */
  val qAnnMmr: Q = "q_ann_mmr" -> (
    (s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
      Ann.mmrRerank(emb, emb.filter(col("vec_id") < 8),
          kShortlist = 8, kOut = 3, lambda = 0.5)
        .orderBy(col("q_id"), col("mmr_rank"))
    },
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_v
       |    FROM embeddings WHERE vec_id < 8),
       |sc AS (SELECT q.q_id, e.vec_id AS n_id,
       |    round(${cosSql("q.q_v", "e.embedding")}, 6) AS cos
       |  FROM q JOIN embeddings e ON e.vec_id <> q.q_id),
       |sl AS (SELECT q_id, n_id, cos FROM (SELECT q_id, n_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
       |  FROM sc) WHERE rank <= 8),
       |slv AS (SELECT sl.q_id, sl.n_id, sl.cos, e.embedding AS n_v
       |  FROM sl JOIN embeddings e ON e.vec_id = sl.n_id),
       |pw AS (SELECT x.q_id, x.n_id AS id_x, y.n_id AS id_y,
       |    round(${cosSql("x.n_v", "y.n_v")}, 6) AS sim
       |  FROM slv x JOIN slv y ON x.q_id = y.q_id AND x.n_id <> y.n_id),
       |s1 AS (SELECT q_id, n_id, cos FROM (SELECT q_id, n_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn
       |  FROM sl) WHERE rn = 1),
       |p2 AS (SELECT pw.q_id, pw.id_x AS n_id, max(pw.sim) AS pen
       |  FROM pw JOIN s1 ON s1.q_id = pw.q_id AND s1.n_id = pw.id_y
       |  GROUP BY 1, 2),
       |c2 AS (SELECT sl.q_id, sl.n_id, sl.cos, p2.pen
       |  FROM sl JOIN p2 USING (q_id, n_id)
       |  WHERE NOT EXISTS (SELECT 1 FROM s1
       |    WHERE s1.q_id = sl.q_id AND s1.n_id = sl.n_id)),
       |s2 AS (SELECT q_id, n_id, cos FROM (SELECT c2.q_id, c2.n_id, c2.cos,
       |    row_number() OVER (PARTITION BY c2.q_id
       |      ORDER BY 0.5 * c2.cos - 0.5 * c2.pen DESC, c2.n_id) AS rn
       |  FROM c2) WHERE rn = 1),
       |sel2 AS (SELECT q_id, n_id FROM s1 UNION ALL SELECT q_id, n_id FROM s2),
       |p3 AS (SELECT pw.q_id, pw.id_x AS n_id, max(pw.sim) AS pen
       |  FROM pw JOIN sel2 ON sel2.q_id = pw.q_id AND sel2.n_id = pw.id_y
       |  GROUP BY 1, 2),
       |c3 AS (SELECT sl.q_id, sl.n_id, sl.cos, p3.pen
       |  FROM sl JOIN p3 USING (q_id, n_id)
       |  WHERE NOT EXISTS (SELECT 1 FROM sel2
       |    WHERE sel2.q_id = sl.q_id AND sel2.n_id = sl.n_id)),
       |s3 AS (SELECT q_id, n_id, cos FROM (SELECT c3.q_id, c3.n_id, c3.cos,
       |    row_number() OVER (PARTITION BY c3.q_id
       |      ORDER BY 0.5 * c3.cos - 0.5 * c3.pen DESC, c3.n_id) AS rn
       |  FROM c3) WHERE rn = 1)
       |SELECT q_id, n_id, cos, mmr_rank FROM (
       |  SELECT q_id, n_id, cos, CAST(1 AS BIGINT) AS mmr_rank FROM s1
       |  UNION ALL
       |  SELECT q_id, n_id, cos, CAST(2 AS BIGINT) FROM s2
       |  UNION ALL
       |  SELECT q_id, n_id, cos, CAST(3 AS BIGINT) FROM s3)
       |ORDER BY q_id, mmr_rank""".stripMargin)

  /** RAKE keyword extraction ([[graft.ops.TextStats.rakeKeywords]]):
    * top corpus keyphrases — maximal content-token runs between
    * stopword/non-alpha boundaries, scored by word degree/frequency
    * mass in the exact ratio-of-sums form (one division of two integer
    * sums; classic RAKE's per-word float fold has no cross-engine
    * order guarantee). The keyword card next to q_domain_terms'
    * per-source odds and q_tfidf's per-doc weights. */
  val qKeywords: Q = "q_keywords" -> (
    (s: SparkSession, d: String) =>
      graft.ops.TextStats.rakeKeywords(Tables.documents(s, d),
        graft.functions.Text.EN_STOPWORDS, maxPhraseLen = 3, topK = 15),
    s"""WITH tk AS (SELECT doc_id, toks[t.pos] AS term, t.pos
       |  FROM (SELECT doc_id, $TOKS AS toks FROM documents),
       |  unnest(range(1, len(toks) + 1)) AS t(pos)),
       |m AS (SELECT doc_id, pos, term,
       |    CASE WHEN term IN ('the', 'a', 'of', 'and', 'to', 'in', 'is')
       |      OR NOT regexp_matches(term, '^[a-z]+$$') THEN 1 ELSE 0 END AS b
       |  FROM tk),
       |g AS (SELECT doc_id, pos, term, b,
       |    sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM m),
       |occ AS (SELECT list(term ORDER BY pos) AS words,
       |    array_to_string(list(term ORDER BY pos), ' ') AS phrase
       |  FROM g WHERE b = 0 GROUP BY doc_id, grp
       |  HAVING count(*) BETWEEN 1 AND 3),
       |ws AS (SELECT t.term, CAST(count(*) AS BIGINT) AS freq,
       |    CAST(sum(len(occ.words)) AS BIGINT) AS deg
       |  FROM occ, unnest(occ.words) AS t(term) GROUP BY 1),
       |ph AS (SELECT phrase, CAST(count(*) AS BIGINT) AS n,
       |    any_value(words) AS words
       |  FROM occ GROUP BY phrase),
       |sc AS (SELECT ph.phrase, ph.n,
       |    CAST(sum(ws.deg) AS DOUBLE) / CAST(sum(ws.freq) AS DOUBLE) AS s0
       |  FROM ph, unnest(ph.words) AS t(term) JOIN ws ON ws.term = t.term
       |  GROUP BY ph.phrase, ph.n)
       |SELECT phrase, n, round(s0, 6) AS score FROM sc
       |ORDER BY round(s0, 6) DESC, n DESC, phrase LIMIT 15""".stripMargin)

  /** Hybrid retrieval via Reciprocal Rank Fusion
    * ([[graft.ops.Ann.rrfFuse]]): the BM25 lexical top-10 and the
    * embedding-cosine semantic top-10 fused by Σ 1/(60 + rank) — the
    * standard hybrid-search combiner (rank-only, so no score
    * calibration between the two lists). Each fusion term is one IEEE
    * division of exact integers, summed in fixed order — bit-identical
    * across engines. Same driver-computed idf side-table discipline as
    * q_bm25. */
  val qHybridRrf: Q = "q_hybrid_rrf" -> (
    (s: SparkSession, d: String) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val n = docs.count()
      graft.ops.TextStats.bm25IdfRows(n, maxDf = n)
        .toDF("df", "idf").coalesce(1)
        .write.mode("overwrite").parquet(codebookPath(d, "bm25_idf"))
      val lex = graft.ops.TextStats.bm25TopK(docs,
          docs.filter(col("doc_id") < 5).select(col("doc_id")),
          k = 10, maxDf = n)
        .select(col("q_id"), col("doc_id").as("n_id"), col("rank"))
      val emb = Tables.embeddings(s, d)
      val sem = Ann.bruteTopK(emb, emb.filter(col("vec_id") < 5), k = 10)
        .select(col("q_id"), col("n_id"), col("rank"))
      Ann.rrfFuse(lex, sem, kConst = 60, topK = 5)
        .orderBy(col("q_id"), col("rank"))
    },
    s"""WITH toks AS (SELECT doc_id AS id, unnest($TOKS) AS term FROM documents),
       |tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |dl AS (SELECT id, sum(tf) AS dl FROM tf GROUP BY 1),
       |stats AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
       |dfq AS (SELECT term, count(*) AS df FROM tf
       |  GROUP BY 1 HAVING count(*) <= (SELECT count(*) FROM documents)),
       |idf AS (SELECT df, idf
       |  FROM read_parquet('/root/repo/artifacts/bm25_idf_${SF}/*.parquet')),
       |qt AS (SELECT id AS q_id, term FROM tf WHERE id < 5),
       |cand AS (SELECT q.q_id, t.id AS n_id, t.term, t.tf, d.dl, i.idf
       |  FROM qt q JOIN dfq f USING (term) JOIN idf i USING (df)
       |  JOIN tf t ON t.term = q.term AND t.id <> q.q_id
       |  JOIN dl d ON d.id = t.id),
       |lsc AS (SELECT q_id, n_id, list_sum(list(
       |    idf * (CAST(tf AS DOUBLE) * 2.2) /
       |      (CAST(tf AS DOUBLE) + 1.2 *
       |        (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))
       |    ORDER BY term)) AS score
       |  FROM cand CROSS JOIN stats GROUP BY 1, 2),
       |lex AS (SELECT q_id, n_id, ra FROM (SELECT q_id, n_id, row_number()
       |    OVER (PARTITION BY q_id ORDER BY score DESC, n_id ASC) AS ra
       |  FROM lsc) WHERE ra <= 10),
       |q AS (SELECT vec_id AS q_id, embedding AS q_v
       |  FROM embeddings WHERE vec_id < 5),
       |ssc AS (SELECT q.q_id, e.vec_id AS n_id,
       |    round(${cosSql("q.q_v", "e.embedding")}, 6) AS cos
       |  FROM q JOIN embeddings e ON e.vec_id <> q.q_id),
       |sem AS (SELECT q_id, n_id, rs FROM (SELECT q_id, n_id, row_number()
       |    OVER (PARTITION BY q_id ORDER BY cos DESC, n_id ASC) AS rs
       |  FROM ssc) WHERE rs <= 10),
       |fused AS (SELECT COALESCE(l.q_id, s.q_id) AS q_id,
       |    COALESCE(l.n_id, s.n_id) AS n_id,
       |    COALESCE(CAST(1 AS DOUBLE) / (60 + l.ra), CAST(0 AS DOUBLE))
       |    + COALESCE(CAST(1 AS DOUBLE) / (60 + s.rs), CAST(0 AS DOUBLE))
       |      AS score
       |  FROM lex l FULL JOIN sem s ON s.q_id = l.q_id AND s.n_id = l.n_id),
       |r AS (SELECT q_id, n_id, round(score, 6) AS rrf, row_number()
       |    OVER (PARTITION BY q_id ORDER BY score DESC, n_id ASC) AS rank
       |  FROM fused)
       |SELECT q_id, n_id, rrf, CAST(rank AS BIGINT) AS rank FROM r
       |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)

  /** Weighted PageRank ([[graft.ops.Graph.pageRankWeighted]]) over the
    * co-purchase graph with shared-basket counts as edge weights
    * ([[graft.ops.Graph.copurchaseWeightedEdges]]): endorsement
    * proportional to co-purchase strength, not mere adjacency — an edge
    * backed by 40 baskets carries 40× a one-off. Same fixed-point-long
    * exactness contract as q_pagerank; the per-edge scalar
    * rank·w/sw·1e18 is the identical IEEE expression in both engines. */
  val qPageRankWeighted: Q = "q_pagerank_weighted" -> (
    (s: SparkSession, d: String) => {
      val edges = graft.ops.Graph.copurchaseWeightedEdges(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minItemSupport = 5)
      graft.ops.Graph.pageRankWeighted(edges, "src", "dst", "w",
          iters = 3, damping = 0.85)
        .select(col("node").as("part"), round(col("rank"), 6).as("rank"))
        .orderBy(col("rank").desc, col("part")).limit(20)
    },
    """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
      |    FROM lineitem),
      |f AS (SELECT item FROM b GROUP BY item HAVING count(*) >= 5),
      |fb AS (SELECT b.basket, b.item FROM b JOIN f USING (item)),
      |e AS (SELECT x.item AS src, y.item AS dst, CAST(count(*) AS BIGINT) AS w
      |  FROM fb x JOIN fb y ON x.basket = y.basket AND x.item <> y.item
      |  GROUP BY 1, 2),
      |d AS (SELECT src, CAST(sum(w) AS BIGINT) AS sw FROM e GROUP BY 1),
      |nodes AS (SELECT DISTINCT src AS node FROM e),
      |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
      |r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS rank FROM nodes, nn),
      |m1 AS (SELECT e.dst AS node,
      |    CAST(sum(CAST(floor(r0.rank * e.w / d.sw * 1e18) AS BIGINT)) AS BIGINT) AS im
      |  FROM e JOIN d USING (src) JOIN r0 ON r0.node = e.src GROUP BY 1),
      |r1 AS (SELECT m1.node, (CAST(1 AS DOUBLE) - 0.85) / nn.n
      |    + 0.85 * (CAST(im AS DOUBLE) / 1e18) AS rank FROM m1, nn),
      |m2 AS (SELECT e.dst AS node,
      |    CAST(sum(CAST(floor(r1.rank * e.w / d.sw * 1e18) AS BIGINT)) AS BIGINT) AS im
      |  FROM e JOIN d USING (src) JOIN r1 ON r1.node = e.src GROUP BY 1),
      |r2 AS (SELECT m2.node, (CAST(1 AS DOUBLE) - 0.85) / nn.n
      |    + 0.85 * (CAST(im AS DOUBLE) / 1e18) AS rank FROM m2, nn),
      |m3 AS (SELECT e.dst AS node,
      |    CAST(sum(CAST(floor(r2.rank * e.w / d.sw * 1e18) AS BIGINT)) AS BIGINT) AS im
      |  FROM e JOIN d USING (src) JOIN r2 ON r2.node = e.src GROUP BY 1),
      |r3 AS (SELECT m3.node, (CAST(1 AS DOUBLE) - 0.85) / nn.n
      |    + 0.85 * (CAST(im AS DOUBLE) / 1e18) AS rank FROM m3, nn)
      |SELECT node AS part, round(rank, 6) AS rank FROM r3
      |ORDER BY round(rank, 6) DESC, part LIMIT 20""".stripMargin)

  /** Seed-truncated harmonic centrality
    * ([[graft.ops.Graph.harmonicCentrality]]): Σ 1/d(seed, part) over a
    * deterministic seed set within 2 hops of the co-purchase graph —
    * the landmark form of closeness (exact per seed, sampled over
    * sources; the seed-count is the scale lever). Hop counts are exact
    * integers; the harmonic fold is two IEEE divisions in fixed hop
    * order. */
  val qHarmonic: Q = "q_harmonic" -> (
    (s: SparkSession, d: String) => {
      val edges = graft.ops.Graph.copurchaseEdges(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minItemSupport = 5)
      val seeds = Tables.lineitem(s, d)
        .select(col("l_partkey").as("part")).distinct()
        .filter(col("part") % 97 === 0)
      graft.ops.Graph.harmonicCentrality(edges, "src", "dst",
          seeds, "part", maxHops = 2, edgesDistinct = true)
        .select(col("node").as("part"), col("n1"), col("n2"),
          round(col("harmonic"), 6).as("harmonic"))
        .orderBy(col("part"))
    },
    """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
      |    FROM lineitem),
      |f AS (SELECT item FROM b GROUP BY item HAVING count(*) >= 5),
      |fb AS (SELECT b.basket, b.item FROM b JOIN f USING (item)),
      |e AS (SELECT DISTINCT x.item AS src, y.item AS dst
      |  FROM fb x JOIN fb y ON x.basket = y.basket AND x.item <> y.item),
      |sd AS (SELECT DISTINCT src AS seed FROM e WHERE src % 97 = 0),
      |d1 AS MATERIALIZED (SELECT DISTINCT sd.seed, e.dst AS node
      |  FROM sd JOIN e ON e.src = sd.seed WHERE e.dst <> sd.seed),
      |d2 AS MATERIALIZED (SELECT DISTINCT d1.seed, e.dst AS node
      |  FROM d1 JOIN e ON e.src = d1.node
      |  WHERE e.dst <> d1.seed AND NOT EXISTS (SELECT 1 FROM d1 x
      |    WHERE x.seed = d1.seed AND x.node = e.dst)),
      |c1 AS (SELECT node, CAST(count(*) AS BIGINT) AS n1 FROM d1 GROUP BY 1),
      |c2 AS (SELECT node, CAST(count(*) AS BIGINT) AS n2 FROM d2 GROUP BY 1),
      |j AS (SELECT COALESCE(c1.node, c2.node) AS node,
      |    COALESCE(c1.n1, CAST(0 AS BIGINT)) AS n1,
      |    COALESCE(c2.n2, CAST(0 AS BIGINT)) AS n2
      |  FROM c1 FULL JOIN c2 ON c2.node = c1.node)
      |SELECT node AS part, n1, n2,
      |  round(CAST(n1 AS DOUBLE) / 1.0 + CAST(n2 AS DOUBLE) / 2.0, 6)
      |    AS harmonic
      |FROM j ORDER BY part""".stripMargin)

  /** Seed-sampled betweenness centrality
    * ([[graft.ops.Graph.betweennessSeeded]], Brandes 2001 truncated at
    * 2 hops, seeds = parts ≡ 0 mod 97): which parts shortest-path
    * traffic routes THROUGH — the path-counting centrality the
    * PageRank family cannot express. Forward σ path counts are exact
    * longs; each backward dependency contribution quantizes once to
    * fixed-point 2³⁰ (the pageRank inbound-mass discipline) so the
    * cross-seed total is an order-free long sum and the oracle replays
    * both sweeps with the identical IEEE expressions. */
  val qBetweenness: Q = "q_betweenness" -> (
    (s: SparkSession, d: String) => {
      val edges = graft.ops.Graph.copurchaseEdges(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minItemSupport = 5)
      val seeds = Tables.lineitem(s, d)
        .select(col("l_partkey").as("part")).distinct()
        .filter(col("part") % 97 === 0)
      graft.ops.Graph.betweennessSeeded(edges, "src", "dst",
          seeds, "part", maxHops = 2, edgesDistinct = true)
        .select(col("node").as("part"),
          round(col("betweenness"), 6).as("betweenness"))
        .orderBy(col("part"))
    },
    """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
      |    FROM lineitem),
      |f AS (SELECT item FROM b GROUP BY item HAVING count(*) >= 5),
      |fb AS (SELECT b.basket, b.item FROM b JOIN f USING (item)),
      |e AS (SELECT DISTINCT x.item AS src, y.item AS dst
      |  FROM fb x JOIN fb y ON x.basket = y.basket AND x.item <> y.item),
      |l0 AS (SELECT DISTINCT src AS seed, src AS node,
      |    CAST(1 AS BIGINT) AS sig FROM e WHERE src % 97 = 0),
      |l1 AS MATERIALIZED (SELECT l0.seed, e.dst AS node,
      |    CAST(sum(l0.sig) AS BIGINT) AS sig
      |  FROM l0 JOIN e ON e.src = l0.node
      |  WHERE e.dst <> l0.seed GROUP BY 1, 2),
      |l2 AS MATERIALIZED (SELECT l1.seed, e.dst AS node,
      |    CAST(sum(l1.sig) AS BIGINT) AS sig
      |  FROM l1 JOIN e ON e.src = l1.node
      |  WHERE e.dst <> l1.seed AND NOT EXISTS (SELECT 1 FROM l1 x
      |    WHERE x.seed = l1.seed AND x.node = e.dst)
      |  GROUP BY 1, 2),
      |c1 AS (SELECT l1.seed, l1.node,
      |    CAST(sum(CAST(floor(CAST(l1.sig AS DOUBLE)
      |      / CAST(l2.sig AS DOUBLE) * (1.0 + 0.0 / 1073741824.0)
      |      * 1073741824.0) AS BIGINT)) AS BIGINT) AS num
      |  FROM l1 JOIN e ON e.src = l1.node
      |  JOIN l2 ON l2.seed = l1.seed AND l2.node = e.dst
      |  GROUP BY 1, 2),
      |d1 AS (SELECT l1.seed, l1.node,
      |    COALESCE(c1.num, CAST(0 AS BIGINT)) AS num
      |  FROM l1 LEFT JOIN c1 ON c1.seed = l1.seed AND c1.node = l1.node),
      |un AS (SELECT node, CAST(0 AS BIGINT) AS num FROM l2
      |  UNION ALL SELECT node, num FROM d1)
      |SELECT node AS part,
      |  round(CAST(CAST(sum(num) AS BIGINT) AS DOUBLE) / 1073741824.0, 6)
      |    AS betweenness
      |FROM un GROUP BY node ORDER BY part""".stripMargin)

  /** HyperLogLog distinct-token cardinality per source
    * ([[graft.ops.Hll]]): the register-table sketch whose estimate is
    * EXACTLY replayable in SQL — Z is an integer (Σ of long shifts),
    * the estimator two IEEE steps over exact operands, so the hash gate
    * certifies the whole sketch, not a tolerance band. `exact_distinct`
    * rides along as the visible accuracy witness (raw-estimator regime:
    * the graded cardinalities are ≫ 3m). m = 256 ⇒ ≤ 256 rows/source
    * cross the final exchange regardless of corpus size. */
  val qHllCard: Q = "q_hll_card" -> (
    (s: SparkSession, d: String) => {
      val toks = Tables.documents(s, d)
        .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val est = graft.ops.Hll.estimate(
        graft.ops.Hll.registers(toks, Seq("source"), "tok", 256),
        Seq("source"), 256)
      val exact = toks.groupBy("source")
        .agg(countDistinct(col("tok")).cast("long").as("exact_distinct"))
      est.join(exact, Seq("source"))
        .select(col("source"), col("buckets_hit"),
          round(col("est"), 6).as("est"), col("exact_distinct"))
        .orderBy(col("source"))
    },
    s"""WITH t AS (SELECT source, unnest($TOKS) AS tok FROM documents),
       |tf AS (SELECT source, tok AS v FROM t WHERE tok <> ''),
       |${graft.ops.Hll.oracleCtes("tf", Seq("source"), 256)},
       |ex AS (SELECT source, CAST(count(DISTINCT v) AS BIGINT) AS exact_distinct
       |  FROM tf GROUP BY 1)
       |SELECT source, buckets_hit, round(est, 6) AS est, exact_distinct
       |FROM hll_est JOIN ex USING (source) ORDER BY source""".stripMargin)

  /** The [[qHllCard]] sketch built INCREMENTALLY through the register
    * store ([[graft.ops.Hll.registerStoreAppend]], three corpus slices
    * by doc_id mod 3) and estimated from the max-merge — hash-equal to
    * the one-shot oracle, certifying the merge algebra end-to-end. The
    * max-merge is IDEMPOTENT, so this store has the strongest replay
    * story in the engine: even a double-posted batch is a no-op at the
    * algebra level, before the `_appended_*` marker ever matters. */
  val qHllStored: Q = "q_hll_stored" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val store = codebookPath(d, "hll_regs")
      def slice(k: Int) = docs.filter(col("doc_id") % 3 === k)
        .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
      (0 to 2).foreach { k =>
        graft.ops.Hll.registerStoreAppend(slice(k), store, s"b$k",
          Seq("source"), "tok", 256)
      }
      val est = graft.ops.Hll.estimateFromStore(s, store, Seq("source"), 256)
      val exact = docs
        .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("source")
        .agg(countDistinct(col("tok")).cast("long").as("exact_distinct"))
      est.join(exact, Seq("source"))
        .select(col("source"), col("buckets_hit"),
          round(col("est"), 6).as("est"), col("exact_distinct"))
        .orderBy(col("source"))
    },
    s"""WITH t AS (SELECT source, unnest($TOKS) AS tok FROM documents),
       |tf AS (SELECT source, tok AS v FROM t WHERE tok <> ''),
       |${graft.ops.Hll.oracleCtes("tf", Seq("source"), 256)},
       |ex AS (SELECT source, CAST(count(DISTINCT v) AS BIGINT) AS exact_distinct
       |  FROM tf GROUP BY 1)
       |SELECT source, buckets_hit, round(est, 6) AS est, exact_distinct
       |FROM hll_est JOIN ex USING (source) ORDER BY source""".stripMargin)

  /** Count-Min point-frequency estimates ([[graft.ops.Cms]]) for the
    * corpus's top-20 tokens: the d×w additive sketch probed against
    * exact counts — `est ≥ exact` is the CMS guarantee, visible per row
    * (est > exact rows are real collisions at w = 1024 against a
    * multi-thousand-token vocabulary). Build cost: one vocab-sized
    * aggregation + a map-side 4-way cell explode; probes join the
    * ≤ 4096-row sketch broadcast. */
  val qCmsFreq: Q = "q_cms_freq" -> (
    (s: SparkSession, d: String) => {
      val toks = Tables.documents(s, d)
        .select(explode(Text.tokens(col("text"))).as("v"))
        .filter(col("v") =!= "")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val exact = toks.groupBy("v")
        .agg(count(lit(1)).cast("long").as("exact"))
      val top = exact.orderBy(col("exact").desc, col("v")).limit(20)
      val sketch = graft.ops.Cms.build(toks, "v", depth = 4, width = 1024)
      top.join(graft.ops.Cms.probe(top.select("v"), sketch, 4, 1024), Seq("v"))
        .select(col("v").as("tok"), col("exact"), col("est"))
        .orderBy(col("tok"))
    },
    s"""WITH t AS (SELECT unnest($TOKS) AS v FROM documents),
       |tf AS (SELECT v FROM t WHERE v <> ''),
       |ex AS (SELECT v, CAST(count(*) AS BIGINT) AS exact FROM tf GROUP BY 1),
       |top AS (SELECT v, exact FROM ex ORDER BY exact DESC, v LIMIT 20),
       |${graft.ops.Cms.oracleCtes("tf", "top", 4, 1024)}
       |SELECT top.v AS tok, top.exact, cms_est.est
       |FROM top JOIN cms_est USING (v) ORDER BY tok""".stripMargin)

  /** [[qCmsFreq]] through the ADDITIVE sketch store
    * ([[graft.ops.Cms.storeAppend]], three slices by doc_id mod 3):
    * per-cell SUM across batch tags reconstructs the one-shot sketch
    * exactly (addition is associative/commutative; the `_appended_*`
    * marker carries replay safety since sum — unlike [[qHllStored]]'s
    * max — is not idempotent). Hash-equal to the same one-shot oracle.
    */
  val qCmsStored: Q = "q_cms_stored" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val store = codebookPath(d, "cms_cells")
      def slice(k: Int) = docs.filter(col("doc_id") % 3 === k)
        .select(explode(Text.tokens(col("text"))).as("v"))
        .filter(col("v") =!= "")
      (0 to 2).foreach { k =>
        graft.ops.Cms.storeAppend(slice(k), store, s"b$k", "v", 4, 1024)
      }
      val sketch = graft.ops.Cms.fromStore(s, store)
      val toks = docs.select(explode(Text.tokens(col("text"))).as("v"))
        .filter(col("v") =!= "")
      val top = toks.groupBy("v")
        .agg(count(lit(1)).cast("long").as("exact"))
        .orderBy(col("exact").desc, col("v")).limit(20)
      top.join(graft.ops.Cms.probe(top.select("v"), sketch, 4, 1024), Seq("v"))
        .select(col("v").as("tok"), col("exact"), col("est"))
        .orderBy(col("tok"))
    },
    s"""WITH t AS (SELECT unnest($TOKS) AS v FROM documents),
       |tf AS (SELECT v FROM t WHERE v <> ''),
       |ex AS (SELECT v, CAST(count(*) AS BIGINT) AS exact FROM tf GROUP BY 1),
       |top AS (SELECT v, exact FROM ex ORDER BY exact DESC, v LIMIT 20),
       |${graft.ops.Cms.oracleCtes("tf", "top", 4, 1024)}
       |SELECT top.v AS tok, top.exact, cms_est.est
       |FROM top JOIN cms_est USING (v) ORDER BY tok""".stripMargin)

  /** Resource-Allocation link prediction
    * ([[graft.ops.Graph.resourceAllocationLinks]]) — [[qLinkPredict]]'s
    * wedge machinery with 1/deg(center) weighting in exact fixed point
    * (2^20 div deg, long sums): a rare shared neighbor now outranks two
    * hub-adjacent wedges, re-ordering the candidate list relative to
    * the plain common-neighbor count. Same cap-bounded wedge volume;
    * all-integer scores keep the hash gate strict. */
  val qLinkPredictRa: Q = "q_link_predict_ra" -> (
    (s: SparkSession, d: String) => {
      val edges = graft.ops.Graph.copurchaseEdges(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minItemSupport = 5)
      graft.ops.Graph.resourceAllocationLinks(edges, "src", "dst",
          maxCenterDeg = 96, minCommon = 4, symmetricDistinct = true)
        .orderBy(col("score_fp").desc, col("node_a"), col("node_b"))
        .limit(25)
    },
    """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
      |    FROM lineitem),
      |f AS (SELECT item FROM b GROUP BY item HAVING count(*) >= 5),
      |fb AS (SELECT b.basket, b.item FROM b JOIN f USING (item)),
      |e0 AS (SELECT DISTINCT x.item AS src, y.item AS dst
      |  FROM fb x JOIN fb y ON x.basket = y.basket AND x.item <> y.item),
      |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |  FROM e0),
      |adj AS (SELECT a AS w, b AS n FROM e UNION ALL SELECT b, a FROM e),
      |d AS (SELECT w, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
      |ctr AS (SELECT w, CAST(1048576 // deg AS BIGINT) AS wt
      |  FROM d WHERE deg <= 96),
      |ak AS (SELECT adj.w, ctr.wt, adj.n FROM adj JOIN ctr USING (w)),
      |wg AS (SELECT x.wt, x.n AS node_a, y.n AS node_b
      |  FROM ak x JOIN ak y ON x.w = y.w AND x.n < y.n),
      |cn AS (SELECT node_a, node_b, CAST(sum(wt) AS BIGINT) AS score_fp,
      |    CAST(count(*) AS BIGINT) AS common
      |  FROM wg GROUP BY 1, 2 HAVING count(*) >= 4),
      |p AS (SELECT cn.node_a, cn.node_b, cn.score_fp, cn.common FROM cn
      |  WHERE NOT EXISTS (SELECT 1 FROM e
      |    WHERE e.a = cn.node_a AND e.b = cn.node_b))
      |SELECT node_a, node_b, score_fp, common FROM p
      |ORDER BY score_fp DESC, node_a, node_b LIMIT 25""".stripMargin)

  /** Degree assortativity ([[graft.ops.Graph.degreeAssortativity]]) of
    * the co-purchase graph: ONE number — hub-hub vs hub-periphery
    * mixing — from exact DECIMAL(38,0) end-degree sums (the no-sqrt
    * symmetric Pearson form), the diagnostic read before choosing any
    * of the engine's hub-cap levers. */
  val qAssortativity: Q = "q_assortativity" -> (
    (s: SparkSession, d: String) => {
      val edges = graft.ops.Graph.copurchaseEdges(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minItemSupport = 5)
      graft.ops.Graph.degreeAssortativity(edges, "src", "dst",
          symmetricDistinct = true)
        .select(col("m_ends"), col("sum_x"), col("sum_xy"), col("sum_x2"),
          round(col("r"), 6).as("r"))
        .orderBy(col("m_ends"))
    },
    """WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
      |    FROM lineitem),
      |f AS (SELECT item FROM b GROUP BY item HAVING count(*) >= 5),
      |fb AS (SELECT b.basket, b.item FROM b JOIN f USING (item)),
      |e0 AS (SELECT DISTINCT x.item AS src, y.item AS dst
      |  FROM fb x JOIN fb y ON x.basket = y.basket AND x.item <> y.item),
      |e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |  FROM e0),
      |adj AS (SELECT a AS w, b AS n FROM e UNION ALL SELECT b, a FROM e),
      |d AS (SELECT w, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
      |ends AS (SELECT dx.deg AS x, dy.deg AS y
      |  FROM adj JOIN d dx ON dx.w = adj.w JOIN d dy ON dy.w = adj.n),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS m_ends,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * y) AS BIGINT) AS sxy,
      |    CAST(sum(x * x) AS BIGINT) AS sx2 FROM ends)
      |SELECT m_ends, sx AS sum_x, sxy AS sum_xy, sx2 AS sum_x2,
      |  round((CAST(m_ends AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |    / (CAST(m_ends AS DOUBLE) * CAST(sx2 AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS r
      |FROM s ORDER BY m_ends""".stripMargin)

  /** Golden-record consolidation ([[graft.ops.Linkage.goldenRecords]])
    * over the [[qEntityClusters]] components: one canonical row per
    * fuzzy-duplicate customer cluster — modal name and market segment
    * (ties to the smallest value), member count, and per-field
    * contested-vote counts. The survivorship step that turns entity
    * RESOLUTION into a usable master table. */
  val qGoldenRecord: Q = "q_golden_record" -> (
    (s: SparkSession, d: String) => {
      val m = Tables.customer(s, d)
        .withColumn("blk", expr("right(c_name, 1)"))
      val pairs = graft.ops.Linkage.blockedPairs(m,
        Seq("c_nationkey", "blk"), "c_custkey", "c_name", maxDist = 2)
      val clusters = graft.ops.Dedup.duplicateClusters(pairs)
      graft.ops.Linkage.goldenRecords(Tables.customer(s, d), clusters,
          "c_custkey", Seq("c_name", "c_mktsegment"))
        .select(col("cluster_id"), col("n_members"),
          col("golden_c_name"), col("n_distinct_c_name"),
          col("golden_c_mktsegment"), col("n_distinct_c_mktsegment"))
        .orderBy(col("cluster_id"))
    },
    """WITH RECURSIVE m AS (SELECT c_custkey, c_nationkey, c_name,
      |    right(c_name, 1) AS blk FROM customer),
      |p AS (SELECT x.c_custkey AS id_a, y.c_custkey AS id_b
      |  FROM m x JOIN m y ON x.c_nationkey = y.c_nationkey
      |    AND x.blk = y.blk AND x.c_custkey < y.c_custkey
      |  WHERE abs(length(x.c_name) - length(y.c_name)) <= 2
      |    AND levenshtein(x.c_name, y.c_name) <= 2),
      |eg AS (SELECT id_a AS src, id_b AS dst FROM p
      |  UNION ALL SELECT id_b, id_a FROM p),
      |v AS (SELECT DISTINCT src AS id FROM eg),
      |reach(id, r) AS (
      |  SELECT id, id FROM v
      |  UNION
      |  SELECT eg.dst, reach.r FROM reach JOIN eg ON eg.src = reach.id),
      |cl AS (SELECT id AS c_custkey, min(r) AS cluster_id
      |  FROM reach GROUP BY id),
      |mem AS (SELECT cl.cluster_id, c.c_name, c.c_mktsegment
      |  FROM cl JOIN customer c USING (c_custkey)),
      |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
      |  FROM mem GROUP BY 1 HAVING count(*) >= 2),
      |vn AS (SELECT cluster_id, c_name, count(*) AS cnt FROM mem
      |  WHERE c_name IS NOT NULL GROUP BY 1, 2),
      |gn AS (SELECT cluster_id, c_name AS golden_c_name FROM (
      |    SELECT cluster_id, c_name, row_number() OVER (
      |      PARTITION BY cluster_id ORDER BY cnt DESC, c_name) AS rn
      |    FROM vn) WHERE rn = 1),
      |gnd AS (SELECT cluster_id, CAST(count(*) AS BIGINT)
      |    AS n_distinct_c_name FROM vn GROUP BY 1),
      |vs AS (SELECT cluster_id, c_mktsegment, count(*) AS cnt FROM mem
      |  WHERE c_mktsegment IS NOT NULL GROUP BY 1, 2),
      |gs AS (SELECT cluster_id, c_mktsegment AS golden_c_mktsegment FROM (
      |    SELECT cluster_id, c_mktsegment, row_number() OVER (
      |      PARTITION BY cluster_id ORDER BY cnt DESC, c_mktsegment) AS rn
      |    FROM vs) WHERE rn = 1),
      |gsd AS (SELECT cluster_id, CAST(count(*) AS BIGINT)
      |    AS n_distinct_c_mktsegment FROM vs GROUP BY 1)
      |SELECT sz.cluster_id, sz.n_members, gn.golden_c_name,
      |  gnd.n_distinct_c_name, gs.golden_c_mktsegment,
      |  gsd.n_distinct_c_mktsegment
      |FROM sz JOIN gn USING (cluster_id) JOIN gnd USING (cluster_id)
      |  JOIN gs USING (cluster_id) JOIN gsd USING (cluster_id)
      |ORDER BY cluster_id""".stripMargin)

  /** Exact mergeable quantile summary ([[graft.ops.Quantiles]]): the
    * corpus's token-count-per-doc distribution as a fixed-bucket
    * histogram (width 8), answering p50/p90/p99 by the all-integer
    * lower-empirical-quantile rule — the hash-certifiable alternative
    * to order-dependent t-digest/KLL merges. The cumulative pass runs
    * over the MODEL-SIZED histogram, never the corpus. */
  val qHistQuantiles: Q = "q_hist_quantiles" -> (
    (s: SparkSession, d: String) => {
      val n = Tables.documents(s, d)
        .select(Text.tokenCount(col("text")).cast("long").as("v"))
      graft.ops.Quantiles.quantiles(
          graft.ops.Quantiles.histogram(n, "v", 8L),
          graft.ops.Quantiles.StandardQs, 8L)
        .orderBy(col("p_label"))
    },
    s"""WITH src AS (SELECT CAST(len($TOKS) AS BIGINT) AS v FROM documents),
       |${graft.ops.Quantiles.oracleCtes("src", graft.ops.Quantiles.StandardQs, 8L)}
       |SELECT p_label, target, bucket, lo, cum FROM hq
       |ORDER BY p_label""".stripMargin)

  /** [[qHistQuantiles]] maintained through the ADDITIVE histogram store
    * (three slices by doc_id mod 3, summed across batch tags) — the
    * length-distribution drift monitor a 100 TB ingest runs per shard:
    * the histogram never re-scans history, yet any quantile is
    * answerable at any time, hash-equal to the one-shot oracle. */
  val qHistStored: Q = "q_hist_stored" -> (
    (s: SparkSession, d: String) => {
      // SHARED STORE with q_hist_trace: append parameters MUST stay
      // identical there (marker-gated appendCommit keeps the first
      // writer's content).
      val docs = Tables.documents(s, d)
      val store = codebookPath(d, "hist_tokcnt")
      (0 to 2).foreach { k =>
        graft.ops.Quantiles.storeAppend(
          docs.filter(col("doc_id") % 3 === k)
            .select(Text.tokenCount(col("text")).cast("long").as("v")),
          store, s"b$k", "v", 8L)
      }
      graft.ops.Quantiles.quantiles(
          graft.ops.Quantiles.fromStore(s, store),
          graft.ops.Quantiles.StandardQs, 8L)
        .orderBy(col("p_label"))
    },
    s"""WITH src AS (SELECT CAST(len($TOKS) AS BIGINT) AS v FROM documents),
       |${graft.ops.Quantiles.oracleCtes("src", graft.ops.Quantiles.StandardQs, 8L)}
       |SELECT p_label, target, bucket, lo, cum FROM hq
       |ORDER BY p_label""".stripMargin)

  /** TextRank chunk salience ([[graft.ops.TextStats.centralChunks]]):
    * the most central 16-token chunk of every document by weighted
    * PageRank over the shared-vocabulary chunk graph — extractive
    * salience for training-data selection, run as ONE corpus-wide graph
    * (node id packs (doc, chunk); per-doc components never interact).
    * The oracle replays the chunk build plus the same 3-iteration
    * fixed-point-long loop as [[qPageRankWeighted]]. */
  val qCentralChunks: Q = "q_central_chunks" -> (
    (s: SparkSession, d: String) =>
      graft.ops.TextStats.centralChunks(Tables.documents(s, d),
          "doc_id", "text", chunkLen = 16, minShared = 4L, iters = 3)
        .select(col("doc_id"), col("chunk"),
          round(col("rank"), 9).as("rank"), col("n_chunks"))
        .orderBy(col("doc_id")),
    s"""WITH t AS (SELECT doc_id, $TOKS AS toks FROM documents),
       |p AS (SELECT doc_id, unnest(toks) AS tok,
       |    unnest(range(0, len(toks))) AS pos FROM t),
       |ch AS (SELECT DISTINCT doc_id, pos // 16 AS chunk, tok FROM p
       |  WHERE tok <> '' AND pos // 16 < 65536),
       |e AS (SELECT a.doc_id * 65536 + a.chunk AS src,
       |    a.doc_id * 65536 + b.chunk AS dst, CAST(count(*) AS BIGINT) AS w
       |  FROM ch a JOIN ch b ON a.doc_id = b.doc_id AND a.tok = b.tok
       |    AND a.chunk <> b.chunk
       |  GROUP BY 1, 2 HAVING count(*) >= 4),
       |d AS (SELECT src, CAST(sum(w) AS BIGINT) AS sw FROM e GROUP BY 1),
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |r0 AS (SELECT node, CAST(1 AS DOUBLE) / nn.n AS rank FROM nodes, nn),
       |m1 AS (SELECT e.dst AS node,
       |    CAST(sum(CAST(floor(r0.rank * e.w / d.sw * 1e18) AS BIGINT)) AS BIGINT) AS im
       |  FROM e JOIN d USING (src) JOIN r0 ON r0.node = e.src GROUP BY 1),
       |r1 AS (SELECT m1.node, (CAST(1 AS DOUBLE) - 0.85) / nn.n
       |    + 0.85 * (CAST(im AS DOUBLE) / 1e18) AS rank FROM m1, nn),
       |m2 AS (SELECT e.dst AS node,
       |    CAST(sum(CAST(floor(r1.rank * e.w / d.sw * 1e18) AS BIGINT)) AS BIGINT) AS im
       |  FROM e JOIN d USING (src) JOIN r1 ON r1.node = e.src GROUP BY 1),
       |r2 AS (SELECT m2.node, (CAST(1 AS DOUBLE) - 0.85) / nn.n
       |    + 0.85 * (CAST(im AS DOUBLE) / 1e18) AS rank FROM m2, nn),
       |m3 AS (SELECT e.dst AS node,
       |    CAST(sum(CAST(floor(r2.rank * e.w / d.sw * 1e18) AS BIGINT)) AS BIGINT) AS im
       |  FROM e JOIN d USING (src) JOIN r2 ON r2.node = e.src GROUP BY 1),
       |r3 AS (SELECT m3.node, (CAST(1 AS DOUBLE) - 0.85) / nn.n
       |    + 0.85 * (CAST(im AS DOUBLE) / 1e18) AS rank FROM m3, nn),
       |rc AS (SELECT node // 65536 AS doc_id, node % 65536 AS chunk, rank,
       |    CAST(count(*) OVER (PARTITION BY node // 65536) AS BIGINT)
       |      AS n_chunks,
       |    row_number() OVER (PARTITION BY node // 65536
       |      ORDER BY rank DESC, node % 65536) AS rn
       |  FROM r3)
       |SELECT doc_id, chunk, round(rank, 9) AS rank, n_chunks
       |FROM rc WHERE rn = 1 ORDER BY doc_id""".stripMargin)

  /** One FD-candidate block of [[qFdProfile]]'s oracle. */
  private def fdPairSql(table: String, det: String, dep: String): String =
    s"""SELECT '$det' AS determinant, '$dep' AS dependent, n_rows, n_groups,
       |  violations, round(1.0 - CAST(violations AS DOUBLE)
       |    / CAST(n_rows AS DOUBLE), 6) AS conf
       |FROM (SELECT CAST(sum(n) AS BIGINT) AS n_rows,
       |    CAST(count(*) AS BIGINT) AS n_groups,
       |    CAST(sum(n - keep) AS BIGINT) AS violations
       |  FROM (SELECT dv, CAST(sum(c) AS BIGINT) AS n,
       |      CAST(max(c) AS BIGINT) AS keep
       |    FROM (SELECT CAST($det AS VARCHAR) AS dv,
       |        CAST($dep AS VARCHAR) AS pv, count(*) AS c
       |      FROM $table GROUP BY 1, 2) GROUP BY 1))""".stripMargin

  /** Approximate functional-dependency profile
    * ([[graft.ops.Profile.fdProfile]], the TANE g3 error measure) over
    * orders: which near-dependencies hold, and at what violation cost —
    * the discovery complement of the [[qDqChecks]] assertions. The
    * exact FD (o_orderkey → o_custkey, conf 1.0) rides along as the
    * self-witness. Two map-combinable aggs per candidate, all-integer
    * until the one conf division. */
  val qFdProfile: Q = "q_fd_profile" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Profile.fdProfile(Tables.orders(s, d),
          Seq(("o_orderkey", "o_custkey"),
            ("o_custkey", "o_orderpriority"),
            ("o_orderstatus", "o_orderpriority")))
        .select(col("determinant"), col("dependent"), col("n_rows"),
          col("n_groups"), col("violations"), round(col("conf"), 6).as("conf"))
        .orderBy(col("determinant"), col("dependent")),
    s"""${fdPairSql("orders", "o_orderkey", "o_custkey")}
       |UNION ALL
       |${fdPairSql("orders", "o_custkey", "o_orderpriority")}
       |UNION ALL
       |${fdPairSql("orders", "o_orderstatus", "o_orderpriority")}
       |ORDER BY determinant, dependent""".stripMargin)

  /** One column block of [[qProfileCard]]'s oracle. */
  private def colCardSql(table: String, c: String): String =
    s"""SELECT '$c' AS "column",
       |  (SELECT CAST(count(*) AS BIGINT) FROM $table) AS n_rows,
       |  (SELECT CAST(count(*) AS BIGINT) FROM $table WHERE $c IS NULL)
       |    AS n_null,
       |  (SELECT CAST(count(DISTINCT $c) AS BIGINT) FROM $table)
       |    AS n_distinct,
       |  (SELECT min(CAST($c AS VARCHAR)) FROM $table) AS min_v,
       |  (SELECT max(CAST($c AS VARCHAR)) FROM $table) AS max_v,
       |  (SELECT CAST($c AS VARCHAR) FROM $table WHERE $c IS NOT NULL
       |    GROUP BY 1 ORDER BY count(*) DESC, 1 LIMIT 1) AS top_v,
       |  (SELECT CAST(count(*) AS BIGINT) FROM $table WHERE $c IS NOT NULL
       |    GROUP BY CAST($c AS VARCHAR) ORDER BY count(*) DESC,
       |    CAST($c AS VARCHAR) LIMIT 1) AS top_n""".stripMargin

  /** Column-profile card ([[graft.ops.Profile.columnCard]]) over
    * customer: row/null/distinct counts, lexicographic min/max of the
    * string rendering, and the modal value per column — the first
    * profiling pass over an unfamiliar table, one value-cardinality-
    * bounded aggregation per column. Graded columns are string/int
    * (rendering-stable across engines by construction). */
  val qProfileCard: Q = "q_profile_card" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Profile.columnCard(Tables.customer(s, d),
          Seq("c_name", "c_mktsegment", "c_nationkey"))
        .orderBy(col("column")),
    s"""${colCardSql("customer", "c_name")}
       |UNION ALL
       |${colCardSql("customer", "c_mktsegment")}
       |UNION ALL
       |${colCardSql("customer", "c_nationkey")}
       |ORDER BY "column"""".stripMargin)

  /** WINDOWED distinct-count from the HLL register store: append three
    * batches, then run the TTL retention sweep
    * ([[graft.ops.Stores.rewriteWhere]] on the batch tag — the
    * "distinct users in the trailing window" monitor) so only the two
    * newest batches' registers survive, and estimate from the swept
    * store. Hash-equal to the one-shot sketch over just those slices —
    * grading the retention path itself: the sweep preserves the
    * `_appended_*` markers, so a re-run's redelivered batches no-op
    * instead of resurrecting the expired registers, and the whole
    * query converges under arbitrary re-execution. */
  val qHllWindow: Q = "q_hll_window" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val store = codebookPath(d, "hll_regs_win")
      def slice(k: Int) = docs.filter(col("doc_id") % 3 === k)
        .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
      (0 to 2).foreach { k =>
        graft.ops.Hll.registerStoreAppend(slice(k), store, s"b$k",
          Seq("source"), "tok", 256)
      }
      graft.ops.Stores.rewriteWhere(s, store, col("tag") >= "b1")
      graft.ops.Hll.estimateFromStore(s, store, Seq("source"), 256)
        .select(col("source"), col("buckets_hit"),
          round(col("est"), 6).as("est"))
        .orderBy(col("source"))
    },
    s"""WITH t AS (SELECT source, unnest($TOKS) AS tok FROM documents
       |  WHERE doc_id % 3 <> 0),
       |tf AS (SELECT source, tok AS v FROM t WHERE tok <> ''),
       |${graft.ops.Hll.oracleCtes("tf", Seq("source"), 256)}
       |SELECT source, buckets_hit, round(est, 6) AS est
       |FROM hll_est ORDER BY source""".stripMargin)

  /** Pairwise source-overlap matrix by HLL inclusion-exclusion
    * ([[graft.ops.Hll.pairOverlap]]): |A∩B| ≈ est(A)+est(B)−est(A∪B)
    * where the union sketch is the per-bucket MAX of the two register
    * sets — the "how redundant are these two crawls" card computed from
    * the ≤ m-rows-per-source register tables alone, with NO second pass
    * over the corpus (the 100 TB property: the corpus is scanned once
    * to build registers; all 190 pair estimates are register-table
    * algebra). `exact_intersect` rides along as the accuracy witness
    * (a distinct-(source,token) self-join — vocabulary-sized here,
    * exactly the join the sketch path avoids at scale). */
  val qHllOverlap: Q = "q_hll_overlap" -> (
    (s: SparkSession, d: String) => {
      val toks = Tables.documents(s, d)
        .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val ov = graft.ops.Hll.pairOverlap(
        graft.ops.Hll.registers(toks, Seq("source"), "tok", 256),
        "source", 256)
      val dt = toks.distinct()
      val exInt = dt.as("a")
        .join(dt.as("b"),
          col("a.tok") === col("b.tok") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).cast("long").as("exact_intersect"))
      ov.join(exInt, Seq("src_a", "src_b"), "left")
        .select(col("src_a"), col("src_b"),
          round(col("est_a"), 6).as("est_a"),
          round(col("est_b"), 6).as("est_b"),
          round(col("est_union"), 6).as("est_union"),
          round(col("est_intersect"), 6).as("est_intersect"),
          round(col("jaccard_est"), 9).as("jaccard_est"),
          coalesce(col("exact_intersect"), lit(0L)).as("exact_intersect"))
        .orderBy(col("src_a"), col("src_b"))
    },
    s"""WITH t AS (SELECT source, unnest($TOKS) AS tok FROM documents),
       |tf AS (SELECT source, tok AS v FROM t WHERE tok <> ''),
       |${graft.ops.Hll.oracleCtes("tf", Seq("source"), 256)},
       |${graft.ops.Hll.overlapOracleCtes("source", 256)},
       |dt AS (SELECT DISTINCT source, v FROM tf),
       |xi AS (SELECT a.source AS src_a, b.source AS src_b,
       |    CAST(count(*) AS BIGINT) AS exact_intersect
       |  FROM dt a JOIN dt b ON a.v = b.v AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT p.src_a, p.src_b, round(p.est_a, 6) AS est_a,
       |  round(p.est_b, 6) AS est_b, round(p.est_union, 6) AS est_union,
       |  round(p.est_intersect, 6) AS est_intersect,
       |  round(p.jaccard_est, 9) AS jaccard_est,
       |  COALESCE(xi.exact_intersect, CAST(0 AS BIGINT)) AS exact_intersect
       |FROM hll_pair p LEFT JOIN xi
       |  ON xi.src_a = p.src_a AND xi.src_b = p.src_b
       |ORDER BY 1, 2""".stripMargin)

  /** Per-SOURCE token-count quantiles
    * ([[graft.ops.Quantiles.quantilesBy]]): the grouped form of
    * [[qHistQuantiles]] — p50/p90/p99 document length per corpus
    * source, fully distributed (group totals from an aggregation, the
    * cumulative window partitioned per group's model-sized histogram;
    * no driver action). The per-source length monitor a mixed-corpus
    * ingest actually dashboards. */
  val qHistBySource: Q = "q_hist_by_source" -> (
    (s: SparkSession, d: String) => {
      val n = Tables.documents(s, d)
        .select(col("source"), Text.tokenCount(col("text")).cast("long").as("v"))
      graft.ops.Quantiles.quantilesBy(
          graft.ops.Quantiles.histogramBy(n, Seq("source"), "v", 8L),
          Seq("source"), graft.ops.Quantiles.StandardQs, 8L)
        .orderBy(col("source"), col("p_label"))
    },
    s"""WITH src AS (SELECT source, CAST(len($TOKS) AS BIGINT) AS v
       |  FROM documents),
       |${graft.ops.Quantiles.oracleCtesBy("src", Seq("source"),
            graft.ops.Quantiles.StandardQs, 8L)}
       |SELECT source, p_label, target, bucket, lo, cum FROM hq
       |ORDER BY source, p_label""".stripMargin)

  /** FD confidence maintained INCREMENTALLY
    * ([[graft.ops.Profile.fdStoreAppend]], three order slices by
    * o_orderkey mod 3): the g3 measure is a pure function of the
    * additive (dv, pv, cnt) pair counts, so the merged store's profile
    * row hash-matches the one-shot oracle — certifying the
    * decomposition end-to-end. The DQ drift monitor: "is
    * o_custkey → o_orderpriority eroding as orders arrive". */
  val qFdStored: Q = "q_fd_stored" -> (
    (s: SparkSession, d: String) => {
      val orders = Tables.orders(s, d)
      val store = codebookPath(d, "fd_cust_prio")
      (0 to 2).foreach { k =>
        graft.ops.Profile.fdStoreAppend(
          orders.filter(col("o_orderkey") % 3 === k), store, s"b$k",
          "o_custkey", "o_orderpriority")
      }
      graft.ops.Profile.fdFromStore(s, store,
          "o_custkey", "o_orderpriority")
        .select(col("determinant"), col("dependent"), col("n_rows"),
          col("n_groups"), col("violations"), round(col("conf"), 6).as("conf"))
        .orderBy(col("determinant"))
    },
    s"""${fdPairSql("orders", "o_custkey", "o_orderpriority")}
       |ORDER BY determinant""".stripMargin)

  /** Per-group least-squares trend ([[graft.ops.Trend.linearTrend]]):
    * slope/intercept/r² of the payload metric `k` over event DAY per
    * event type — "is this metric drifting, and how fast" as ONE
    * map-combinable aggregation from exact DECIMAL sums (integer x/y ⇒
    * every sum exact; the statistics are fixed IEEE shapes over them).
    * No window, no sort, group-count-sized output. */
  val qTrend: Q = "q_trend" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Trend.linearTrend(
          Tables.events(s, d).filter(col("k").isNotNull),
          Seq("event_type"), "ts_us div 86400000000", "k")
        .select(col("event_type"), col("n"),
          round(col("slope"), 9).as("slope"),
          round(col("intercept"), 6).as("intercept"),
          round(col("r2"), 9).as("r2"))
        .orderBy(col("event_type")),
    s"""WITH $EV,
       |src AS (SELECT event_type, ts_us // 86400000000 AS x, k AS y
       |  FROM ev WHERE k IS NOT NULL),
       |${graft.ops.Trend.oracleCtes("src", Seq("event_type"))}
       |SELECT event_type, n, round(slope, 9) AS slope,
       |  round(intercept, 6) AS intercept, round(r2, 9) AS r2
       |FROM trend ORDER BY event_type""".stripMargin)

  /** Day-of-week seasonal profile per event type
    * ([[graft.ops.Trend.seasonalProfile]]): mean payload metric at each
    * cycle position + per-group peak position and amplitude — the
    * "WHEN does this metric run hot" card next to [[qTrend]]'s "is it
    * drifting". One map-side-combinable aggregation to |groups|·7 rows;
    * the peak/amplitude window runs over those model-sized partitions,
    * never the events. Exact decimal sums → one IEEE division, so the
    * card is engine-bit-identical (rounds are belt-and-braces). */
  val qSeasonal: Q = "q_seasonal" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Trend.seasonalProfile(
          Tables.events(s, d).filter(col("k").isNotNull),
          Seq("event_type"), "ts_us div 86400000000", "k", period = 7)
        .select(col("event_type"), col("pos"), col("n"),
          round(col("mean_y"), 9).as("mean_y"), col("peak_pos"),
          round(col("amplitude"), 9).as("amplitude"))
        .orderBy(col("event_type"), col("pos")),
    s"""WITH $EV,
       |src AS (SELECT event_type, ts_us // 86400000000 AS x, k AS y
       |  FROM ev WHERE k IS NOT NULL),
       |${graft.ops.Trend.seasonalOracleCtes("src", Seq("event_type"), 7)}
       |SELECT event_type, pos, n, round(mean_y, 9) AS mean_y, peak_pos,
       |  round(amplitude, 9) AS amplitude
       |FROM seas ORDER BY event_type, pos""".stripMargin)

  /** [[qSeasonal]] maintained INCREMENTALLY
    * ([[graft.ops.Trend.seasonalStoreAppend]], three event slices by
    * event_id mod 3): per-(group, position) count/sum pairs merge by
    * SUM, decimal sums of decimal sums stay exact, so the stored card
    * hash-matches the one-shot oracle — the arriving-shard seasonality
    * monitor (its live twin is a [[graft.streaming.StoreLoop]] over
    * the same op). */
  val qSeasonalStored: Q = "q_seasonal_stored" -> (
    (s: SparkSession, d: String) => {
      val ev = Tables.events(s, d).filter(col("k").isNotNull)
      val store = codebookPath(d, "seasonal_k")
      (0 to 2).foreach { kk =>
        graft.ops.Trend.seasonalStoreAppend(
          ev.filter(col("event_id") % 3 === kk), store, s"b$kk",
          Seq("event_type"), "ts_us div 86400000000", "k", period = 7)
      }
      graft.ops.Trend.seasonalFromStore(s, store, Seq("event_type"))
        .select(col("event_type"), col("pos"), col("n"),
          round(col("mean_y"), 9).as("mean_y"), col("peak_pos"),
          round(col("amplitude"), 9).as("amplitude"))
        .orderBy(col("event_type"), col("pos"))
    },
    s"""WITH $EV,
       |src AS (SELECT event_type, ts_us // 86400000000 AS x, k AS y
       |  FROM ev WHERE k IS NOT NULL),
       |${graft.ops.Trend.seasonalOracleCtes("src", Seq("event_type"), 7)}
       |SELECT event_type, pos, n, round(mean_y, 9) AS mean_y, peak_pos,
       |  round(amplitude, 9) AS amplitude
       |FROM seas ORDER BY event_type, pos""".stripMargin)

  /** Snapshot-diff card ([[graft.ops.Profile.snapshotDiff]]): added/
    * removed/changed between two versions of the orders table — version
    * B drops every 7th key (A lacks every 5th), bumps the price on keys
    * ≡ 0 mod 3 and rewrites the status on keys ≡ 0 mod 11. One
    * key-shuffled full-outer join + one map-combinable aggregation; the
    * per-field unpivot runs on the single aggregated row. The "what did
    * this refresh actually touch" audit every ingest pipeline wants
    * before promoting a snapshot. */
  val qSnapshotDiff: Q = "q_snapshot_diff" -> (
    (s: SparkSession, d: String) => {
      val orders = Tables.orders(s, d)
      val snapA = orders.filter(col("o_orderkey") % 5 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val snapB = orders.filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 11 === 0, lit("X"))
            .otherwise(col("o_orderstatus")).as("o_orderstatus"),
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 1)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      graft.ops.Profile.snapshotDiff(snapA, snapB, "o_orderkey",
          Seq("o_orderstatus", "o_totalprice"))
        .orderBy(col("field"))
    },
    s"""WITH sa AS (SELECT o_orderkey, o_orderstatus, o_totalprice
       |  FROM orders WHERE o_orderkey % 5 <> 0),
       |sb AS (SELECT o_orderkey,
       |    CASE WHEN o_orderkey % 11 = 0 THEN 'X'
       |      ELSE o_orderstatus END AS o_orderstatus,
       |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1
       |      ELSE o_totalprice END AS o_totalprice
       |  FROM orders WHERE o_orderkey % 7 <> 0),
       |${graft.ops.Profile.snapshotDiffOracleCtes("sa", "sb", "o_orderkey",
            Seq("o_orderstatus", "o_totalprice"))}
       |SELECT field, n_added, n_removed, n_common, n_changed
       |FROM sdiff ORDER BY field""".stripMargin)

  /** Per-source percentile-rank score calibration
    * ([[graft.ops.Quantiles.percentileRank]]): each document's quality
    * proxy (token count) replaced by its within-source cumulative
    * fraction, plus the `keep_top10` cut — the same 10% selectivity
    * applied to EVERY source, where a single global threshold would let
    * the longest-document source dominate the kept set. One window per
    * source partition (straggler bound = largest source; the sketch
    * path [[qHistBySource]] is the sort-free monitor at skew). The rank
    * is one division of two group-local integers — bit-identical across
    * engines, no rounding. */
  val qScoreCalibrate: Q = "q_score_calibrate" -> (
    (s: SparkSession, d: String) => {
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          Text.tokenCount(col("text")).cast("long").as("score"))
      graft.ops.Quantiles.percentileRank(scored, Seq("source"),
          "score", "src_pct")
        .select(col("doc_id"), col("source"), col("score"), col("src_pct"),
          (col("src_pct") >= 0.9).as("keep_top10"))
        .orderBy(col("doc_id"))
    },
    s"""WITH sc AS (SELECT doc_id, source,
       |    CAST(len($TOKS) AS BIGINT) AS score FROM documents),
       |r AS (SELECT doc_id, source, score,
       |    cume_dist() OVER (PARTITION BY source ORDER BY score) AS src_pct
       |  FROM sc)
       |SELECT doc_id, source, score, src_pct, (src_pct >= 0.9) AS keep_top10
       |FROM r ORDER BY doc_id""".stripMargin)

  /** JSONL source parity ([[graft.sources.TextSources.jsonl]]): the
    * orders table round-tripped through newline-delimited JSON (the
    * crawl-dump arrival format) with an EXPLICIT schema — no inference
    * pass — then aggregated; the oracle computes the same aggregate
    * from the parquet, so the hash gate certifies the text decode
    * end-to-end (long/string/decimal all exact through the format). */
  val qSourceJsonl: Q = "q_source_jsonl" -> (
    (s: SparkSession, d: String) => {
      val path = codebookPath(d, "orders_jsonl")
      if (!graft.ops.Stores.exists(s, path, "_SUCCESS"))
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .write.mode("overwrite").json(path)
      graft.sources.TextSources.jsonl(s, path,
          "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DECIMAL(12,2)")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum((col("o_totalprice") * 100).cast("long")).cast("long")
            .as("total_cents"),
          min(col("o_orderkey")).as("min_key"))
        .orderBy(col("o_orderstatus"))
    },
    """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(o_totalprice * 100 AS BIGINT)) AS BIGINT) AS total_cents,
      |  min(o_orderkey) AS min_key
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)

  /** CSV source parity ([[graft.sources.TextSources.csv]]): the
    * customer table through the export format with quoting in play
    * (addresses carry commas), schema-first, header skipped by
    * contract. Hash-matched against the parquet-side oracle. */
  val qSourceCsv: Q = "q_source_csv" -> (
    (s: SparkSession, d: String) => {
      val path = codebookPath(d, "customer_csv")
      if (!graft.ops.Stores.exists(s, path, "_SUCCESS"))
        Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey"), col("c_name"),
            col("c_acctbal"))
          .write.mode("overwrite").option("header", "true").csv(path)
      graft.sources.TextSources.csv(s, path,
          "c_custkey BIGINT, c_nationkey BIGINT, c_name STRING, " +
            "c_acctbal DECIMAL(12,2)")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum((col("c_acctbal") * 100).cast("long")).cast("long")
            .as("bal_cents"),
          max(col("c_name")).as("max_name"))
        .orderBy(col("c_nationkey"))
    },
    """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(c_acctbal * 100 AS BIGINT)) AS BIGINT) AS bal_cents,
      |  max(c_name) AS max_name
      |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Equi-join size estimation from CMS sketches
    * ([[graft.ops.Cms.innerProduct]], Cormode & Muthukrishnan 2005
    * §4.2): how many rows would `lineitem ⋈ heavy-lineitem ON
    * l_partkey` produce, answered from two ≤ 4·1024-row cell tables —
    * THE shuffle-or-broadcast planning number, with the raw relations
    * never re-scanned. `exact` (the true Σ_v fA(v)·fB(v), an actual
    * join count) rides along as the witness; est ≥ exact is the CMS
    * guarantee, width is the planner's
    * accuracy dial: the additive error is ~N_A·N_B/w, so w = 65536
    * keeps the estimate decision-grade at both graded scales while the
    * sketch stays ≤ 4·65536 rows — vanishing next to the relations it
    * summarizes. */
  val qCmsJoinSize: Q = "q_cms_joinsize" -> (
    (s: SparkSession, d: String) => {
      val li = Tables.lineitem(s, d)
      val a = li.select(col("l_partkey").cast("string").as("v"))
      val b = li.filter(col("l_quantity") > 25)
        .select(col("l_partkey").cast("string").as("v"))
      val est = graft.ops.Cms.innerProduct(
        graft.ops.Cms.build(a, "v", depth = 4, width = 65536),
        graft.ops.Cms.build(b, "v", depth = 4, width = 65536), depth = 4)
      val exact = a.groupBy("v").agg(count(lit(1)).as("ca"))
        .join(b.groupBy("v").agg(count(lit(1)).as("cb")), Seq("v"))
        .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).cast("long")
          .as("exact"))
      est.select(col("est").cast("long").as("est"))
        .crossJoin(exact)
    },
    s"""WITH la AS (SELECT CAST(l_partkey AS VARCHAR) AS v FROM lineitem),
       |lb AS (SELECT CAST(l_partkey AS VARCHAR) AS v FROM lineitem
       |  WHERE l_quantity > 25),
       |${graft.ops.Cms.innerProductOracleCtes("la", "lb", 4, 65536)},
       |xct AS (SELECT CAST(coalesce(sum(ca.c * cb.c), 0) AS BIGINT) AS exact
       |  FROM (SELECT v, count(*) AS c FROM la GROUP BY 1) ca
       |  JOIN (SELECT v, count(*) AS c FROM lb GROUP BY 1) cb USING (v))
       |SELECT cms_ip.est, xct.exact FROM cms_ip, xct""".stripMargin)

  /** Table-stats card ([[graft.ops.Profile.tableStats]]): ANALYZE
    * TABLE's row/null/NDV numbers for the high-cardinality columns of
    * orders, NDV from the HLL register sketch (≤ 256 rows per column
    * regardless of table size — the 100 TB path where exact per-column
    * count-distinct would shuffle every value); `ndv_exact` is the
    * graded-scale witness. Low-cardinality enums are [[qProfileCard]]'s
    * exact territory — the two cards split by the sketch's documented
    * small-range boundary. */
  val qTableStats: Q = "q_table_stats" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Profile.tableStats(Tables.orders(s, d),
          Seq("o_orderkey", "o_custkey", "o_totalprice"))
        .select(col("column"), col("n_rows"), col("n_null"),
          col("ndv_exact"), round(col("ndv_est"), 6).as("ndv_est"))
        .orderBy(col("column")),
    s"""WITH c1 AS (SELECT CAST(o_orderkey AS VARCHAR) AS v FROM orders
       |  WHERE o_orderkey IS NOT NULL),
       |c2 AS (SELECT CAST(o_custkey AS VARCHAR) AS v FROM orders
       |  WHERE o_custkey IS NOT NULL),
       |c3 AS (SELECT CAST(o_totalprice AS VARCHAR) AS v FROM orders
       |  WHERE o_totalprice IS NOT NULL),
       |${graft.ops.Hll.oracleCtes("c1", Nil, 256, "h1")},
       |${graft.ops.Hll.oracleCtes("c2", Nil, 256, "h2")},
       |${graft.ops.Hll.oracleCtes("c3", Nil, 256, "h3")},
       |base AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM orders),
       |stats AS (
       |  SELECT 'o_orderkey' AS "column", base.n_rows,
       |    (SELECT CAST(count(*) - count(o_orderkey) AS BIGINT) FROM orders)
       |      AS n_null,
       |    (SELECT CAST(count(DISTINCT v) AS BIGINT) FROM c1) AS ndv_exact,
       |    h1_est.est AS ndv_est FROM base, h1_est
       |  UNION ALL
       |  SELECT 'o_custkey', base.n_rows,
       |    (SELECT CAST(count(*) - count(o_custkey) AS BIGINT) FROM orders),
       |    (SELECT CAST(count(DISTINCT v) AS BIGINT) FROM c2),
       |    h2_est.est FROM base, h2_est
       |  UNION ALL
       |  SELECT 'o_totalprice', base.n_rows,
       |    (SELECT CAST(count(*) - count(o_totalprice) AS BIGINT) FROM orders),
       |    (SELECT CAST(count(DISTINCT v) AS BIGINT) FROM c3),
       |    h3_est.est FROM base, h3_est)
       |SELECT "column", n_rows, n_null, ndv_exact, round(ndv_est, 6) AS ndv_est
       |FROM stats ORDER BY "column"""".stripMargin)

  /** Local-DP survey counts by randomized response
    * ([[graft.ops.Privacy.randomizedResponse]], Warner 1965): per
    * nation, how many customers are in debt — estimated from reports
    * where each row flips its bit with dyadic probability 1/4 (ε =
    * ln 3 local DP per report), debiased as (obs − p·n)/(1 − 2p). The
    * hash-seeded flips make the whole mechanism — noise included —
    * hash-certifiable across engines; `true_pos` rides along as the
    * accuracy witness the real aggregator never sees. Map-only flips,
    * one map-combinable aggregation, group-level output only. */
  val qRrDp: Q = "q_rr_dp" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Privacy.randomizedResponse(Tables.customer(s, d),
          Seq("c_nationkey"), "c_acctbal < 0", "c_custkey", "rr1",
          kNum = 1, kBits = 2)
        .select(col("c_nationkey"), col("n"), col("obs"),
          round(col("est_true"), 6).as("est_true"), col("true_pos"))
        .orderBy(col("c_nationkey")),
    s"""WITH src AS (SELECT c_nationkey,
       |    CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS b,
       |    c_custkey AS uid FROM customer),
       |${graft.ops.Privacy.rrOracleCtes("src", Seq("c_nationkey"),
            "rr1", 1, 2)}
       |SELECT c_nationkey, n, obs, round(est_true, 6) AS est_true, true_pos
       |FROM rr ORDER BY c_nationkey""".stripMargin)

  /** ORC source parity: lineitem through Spark's native columnar
    * alternative to parquet (schema travels with the file; predicate
    * pushdown and column pruning work the same — PlanShapeSpec pins the
    * pushed filter) — with this the format surface reads parquet, ORC,
    * JSONL, CSV, and JDBC. Money summed as integer cents per the
    * [[qSourceJsonl]] convention. */
  val qSourceOrc: Q = "q_source_orc" -> (
    (s: SparkSession, d: String) => {
      val path = codebookPath(d, "lineitem_orc")
      if (!graft.ops.Stores.exists(s, path, "_SUCCESS"))
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
            col("l_extendedprice"))
          .write.mode("overwrite").orc(path)
      s.read.orc(path)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum((col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long")).cast("long").as("price_cents"),
          sum(col("l_quantity").cast("decimal(18,2)").cast("long"))
            .cast("long").as("qty"),
          min(col("l_orderkey")).as("min_key"))
        .orderBy(col("l_returnflag"))
    },
    """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS price_cents,
      |  CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) AS BIGINT)) AS BIGINT)
      |    AS qty,
      |  min(l_orderkey) AS min_key
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)

  /** Robust outlier card ([[graft.ops.Quantiles.tukeyOutliers]]):
    * per-source document-length outliers by Tukey fences over the
    * mergeable histogram — quartiles from bucket lower bounds, fences
    * in 2×-integer form, so the whole monitor is integer-exact and
    * never sorts the corpus (one histogram agg + one broadcast fence
    * join + one count agg). The robust companion to the mean/σ z-score:
    * outliers can't inflate the quartiles they're measured against. */
  val qIqrOutliers: Q = "q_iqr_outliers" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Quantiles.tukeyOutliers(
          Tables.documents(s, d)
            .select(col("source"), Text.tokenCount(col("text")).as("v")),
          Seq("source"), "v", bucketWidth = 4L)
        .orderBy(col("source")),
    s"""WITH src AS (SELECT source, CAST(len($TOKS) AS BIGINT) AS v
       |  FROM documents),
       |${graft.ops.Quantiles.tukeyOracleCtes("src", Seq("source"), 4L)}
       |SELECT source, n, p25, p50, p75, iqr, n_low, n_high
       |FROM tk ORDER BY source""".stripMargin)

  /** A/B experiment readout ([[graft.ops.Abtest.readout]]): hash-
    * bucketed unit assignment + the two-proportion z statistic on
    * purchase conversion. With no real treatment in the corpus this IS
    * the A/A validation — the z should sit inside ±2, and the whole
    * card (sqrt included — IEEE correctly rounded) is hash-certified
    * across engines. Unit grain: one hash agg; readout: one
    * map-combinable agg to a single row. */
  val qAbReadout: Q = "q_ab_readout" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Abtest.readout(Tables.events(s, d), Nil,
          "user_id", "event_type = 'purchase' AND value > 110", salt = "exp1")
        .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
          round(col("rate_a"), 9).as("rate_a"),
          round(col("rate_b"), 9).as("rate_b"),
          round(col("lift"), 9).as("lift"), round(col("z"), 6).as("z")),
    s"""WITH $EV,
       |src AS (SELECT user_id AS unit,
       |    CASE WHEN event_type = 'purchase' AND value > 110
       |      THEN 1 ELSE 0 END AS c
       |  FROM ev),
       |${graft.ops.Abtest.oracleCtes("src", Nil, "exp1")}
       |SELECT n_a, conv_a, n_b, conv_b, round(rate_a, 9) AS rate_a,
       |  round(rate_b, 9) AS rate_b, round(lift, 9) AS lift,
       |  round(z, 6) AS z
       |FROM ab""".stripMargin)

  /** [[qScoreCalibrate]]'s SKETCH PATH
    * ([[graft.ops.Quantiles.histRank]]): the same per-source
    * calibration at bucket resolution, no sort anywhere — the cumulative
    * window runs over the model-sized histogram and rows rank through
    * one broadcast join. `exact_pct` rides along; `upper_rank`
    * certifies hist rank ≥ exact on every row (the bucket-resolution
    * contract: equality exactly at bucket-final rows). */
  val qScoreCalibrateHist: Q = "q_score_calibrate_hist" -> (
    (s: SparkSession, d: String) => {
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          Text.tokenCount(col("text")).cast("long").as("score"))
      val h = graft.ops.Quantiles.histRank(scored, Seq("source"),
        "score", bucketWidth = 8L)
      graft.ops.Quantiles.percentileRank(h, Seq("source"), "score",
          "exact_pct")
        .select(col("doc_id"), col("source"), col("score"),
          round(col("hist_pct"), 9).as("hist_pct"),
          round(col("exact_pct"), 9).as("exact_pct"),
          (col("hist_pct") >= col("exact_pct")).as("upper_rank"))
        .orderBy(col("doc_id"))
    },
    s"""WITH sc AS (SELECT doc_id, source,
       |    CAST(len($TOKS) AS BIGINT) AS score FROM documents),
       |h AS (SELECT source, score // 8 AS bucket,
       |    CAST(count(*) AS BIGINT) AS cnt FROM sc GROUP BY ALL),
       |c AS (SELECT source, bucket,
       |    CAST(sum(cnt) OVER (PARTITION BY source ORDER BY bucket)
       |      AS BIGINT) AS cum,
       |    CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n
       |  FROM h),
       |r AS (SELECT sc.doc_id, sc.source, sc.score,
       |    CAST(c.cum AS DOUBLE) / CAST(c.n AS DOUBLE) AS hist_pct,
       |    cume_dist() OVER (PARTITION BY sc.source ORDER BY sc.score)
       |      AS exact_pct
       |  FROM sc JOIN c ON c.source = sc.source AND c.bucket = sc.score // 8)
       |SELECT doc_id, source, score, round(hist_pct, 9) AS hist_pct,
       |  round(exact_pct, 9) AS exact_pct,
       |  (hist_pct >= exact_pct) AS upper_rank
       |FROM r ORDER BY doc_id""".stripMargin)

  /** [[qIqrOutliers]] with the fences learned from the MAINTAINED
    * per-source histogram store
    * ([[graft.ops.Quantiles.storeAppendBy]], three doc slices;
    * [[graft.ops.Quantiles.tukeyOutliersFromStore]] reads the merge):
    * histogram additivity makes the store-learned quartiles equal the
    * one-shot's EXACTLY, so the oracle is [[qIqrOutliers]]'s verbatim —
    * the robust monitor's state now arrives incrementally, its answers
    * indistinguishable. */
  val qIqrStored: Q = "q_iqr_stored" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          Text.tokenCount(col("text")).as("v"))
      val store = codebookPath(d, "hist_iqr_src")
      (0 to 2).foreach { k =>
        graft.ops.Quantiles.storeAppendBy(
          docs.filter(col("doc_id") % 3 === k), store, s"b$k",
          Seq("source"), "v", 4L)
      }
      graft.ops.Quantiles.tukeyOutliersFromStore(docs, store,
          Seq("source"), "v", 4L)
        .orderBy(col("source"))
    },
    qIqrOutliers._2._2)

  /** The inline blocklist the screen fixture shares between engines:
    * unigrams + two-token phrases over the corpus's own vocabulary. */
  private val BlocklistTerms = Seq(
    ("scan", "infra"), ("merge", "infra"), ("batch stream", "infra"),
    ("join", "query"), ("sort merge", "query"), ("window filter", "query"))

  /** Blocklist screening ([[graft.ops.Blocklist.screen]]): per-doc
    * per-category hit counts of exact unigram/bigram terms — token
    * stream exploded once, list-sized blocklist broadcast, no corpus
    * shuffle before the bounded count agg. */
  val qBlocklist: Q = "q_blocklist" -> (
    (s: SparkSession, d: String) => {
      import s.implicits._
      graft.ops.Blocklist.screen(
          Tables.documents(s, d), BlocklistTerms.toDF("term", "category"))
        .orderBy(col("doc_id"), col("category"))
    },
    s"""WITH ${graft.ops.Blocklist.screenSql(BlocklistTerms)}
       |SELECT doc_id, category, hits FROM bl_hits
       |ORDER BY doc_id, category""".stripMargin)

  /** Rendezvous shard assignment ([[graft.ops.Shards]]): per-shard doc
    * counts under an 8-shard ring plus how many of each shard's docs
    * would MOVE growing the ring to 9 — the 1/(N+1) stability bound
    * that makes incremental re-export possible (mod-N moves ~all).
    * Integer md5 argmax on both engines — exact. */
  val qRendezvous: Q = "q_rendezvous" -> (
    (s: SparkSession, d: String) => {
      import graft.ops.Shards
      Tables.documents(s, d)
        .select(col("doc_id"),
          Shards.rendezvousShard(col("doc_id"), 8, "ring").as("shard8"),
          Shards.rendezvousShard(col("doc_id"), 9, "ring").as("shard9"))
        .groupBy(col("shard8"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(when(col("shard8") =!= col("shard9"), 1L).otherwise(0L))
            .cast("long").as("moved"))
        .select(col("shard8").as("shard"), col("n"), col("moved"))
        .orderBy(col("shard"))
    },
    s"""WITH a AS (SELECT doc_id,
       |    ${graft.ops.Shards.rendezvousSql("doc_id", 8, "ring")} AS shard8,
       |    ${graft.ops.Shards.rendezvousSql("doc_id", 9, "ring")} AS shard9
       |  FROM documents)
       |SELECT shard8 AS shard, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CASE WHEN shard8 <> shard9 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS moved
       |FROM a GROUP BY shard8 ORDER BY shard""".stripMargin)

  /** Half-life-decayed event counts ([[graft.ops.Decay]]): per
    * event_type, recency-weighted volume with exact dyadic 2^-b
    * weights (b = whole 7-day half-lives before the corpus's max ts) —
    * the freshness signal a mix-weight policy consumes, with no
    * transcendentals anywhere (integer-scaled sum, one final
    * division). */
  val qDecayed: Q = "q_decayed" -> (
    (s: SparkSession, d: String) => {
      val ev = Tables.events(s, d)
      val asOf = ev.agg(max(col("ts_us"))).head.getLong(0)
      graft.ops.Decay.decayedCounts(ev, Seq("event_type"), "ts_us",
          asOf, 604800000000L)
        .orderBy(col("event_type"))
    },
    s"""WITH $EV,
       |m AS (SELECT max(ts_us) AS as_of FROM ev),
       |b AS (SELECT event_type, ts_us // 604800000000 AS period,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM ev, m WHERE ts_us <= m.as_of GROUP BY 1, 2),
       |w AS (SELECT event_type, cnt,
       |    CASE WHEN ((SELECT as_of FROM m) // 604800000000) - period <= 40
       |      THEN (CAST(1 AS BIGINT) <<
       |        (40 - (((SELECT as_of FROM m) // 604800000000) - period)))
       |      ELSE CAST(0 AS BIGINT) END AS w
       |  FROM b WHERE period <= (SELECT as_of FROM m) // 604800000000)
       |SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_events,
       |  CAST(sum(cnt * w) AS BIGINT) AS decayed_scaled,
       |  CAST(CAST(sum(cnt * w) AS BIGINT) AS DOUBLE) / 1099511627776.0
       |    AS decayed
       |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** [[qDecayed]] with the per-period counts arriving INCREMENTALLY
    * through the additive append store ([[graft.ops.Decay.storeAppend]],
    * three event slices; [[graft.ops.Decay.decayedFromStore]] merges and
    * decays at read): period-count additivity makes the store-merged
    * buckets equal the one-shot's exactly, so the oracle is
    * [[qDecayed]]'s verbatim — and because the store keys on absolute
    * periods, the same store would answer ANY later asOf without a
    * rewrite. */
  val qDecayedStored: Q = "q_decayed_stored" -> (
    (s: SparkSession, d: String) => {
      val ev = Tables.events(s, d)
      val asOf = ev.agg(max(col("ts_us"))).head.getLong(0)
      val store = codebookPath(d, "decay_store")
      (0 to 2).foreach { k =>
        graft.ops.Decay.storeAppend(
          ev.filter(pmod(col("event_id"), lit(3)) === k), store, s"b$k",
          Seq("event_type"), "ts_us", 604800000000L)
      }
      graft.ops.Decay.decayedFromStore(s, store, Seq("event_type"),
          asOf, 604800000000L)
        .orderBy(col("event_type"))
    },
    qDecayed._2._2)

  /** Simpson lexical diversity ([[graft.ops.TextStats.simpsonDiversity]]):
    * the entropy-free repetition signal — P(two tokens same type) via
    * exact integer pair counts, one final division; ranks docs like
    * Shannon entropy for the repetition-filter use case without a
    * single log. */
  val qSimpson: Q = "q_simpson" -> (
    (s: SparkSession, d: String) =>
      graft.ops.TextStats.simpsonDiversity(Tables.documents(s, d))
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_types"),
          col("rep_pairs"), col("diversity"))
        .orderBy(col("doc_id")),
    s"""WITH t AS (SELECT doc_id, unnest($TOKS) AS term FROM documents
       |  WHERE text IS NOT NULL),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM t GROUP BY 1, 2),
       |card AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |    CAST(count(*) AS BIGINT) AS n_types,
       |    CAST(sum(tf * (tf - 1)) AS BIGINT) AS rep_pairs
       |  FROM tf GROUP BY doc_id)
       |SELECT doc_id, n_tokens, n_types, rep_pairs,
       |  1.0 - CAST(rep_pairs AS DOUBLE)
       |    / CAST(n_tokens * (n_tokens - 1) AS DOUBLE) AS diversity
       |FROM card WHERE n_tokens >= 2 ORDER BY doc_id""".stripMargin)

  /** Range-export split points ([[graft.ops.Quantiles.splitPoints]]):
    * the 8-shard boundary ladder over document token counts, read from
    * the exact mergeable histogram — the sampling-free, engine-
    * replayable form of range-partitioner planning (two planners cut
    * identical shards). */
  val qSplitPoints: Q = "q_split_points" -> (
    (s: SparkSession, d: String) => {
      val n = Tables.documents(s, d)
        .select(Text.tokenCount(col("text")).cast("long").as("v"))
      graft.ops.Quantiles.splitPoints(
          graft.ops.Quantiles.histogram(n, "v", 8L), 8, 8L)
        .orderBy(col("p_label"))
    },
    s"""WITH src AS (SELECT CAST(len($TOKS) AS BIGINT) AS v FROM documents),
       |${graft.ops.Quantiles.oracleCtes("src", graft.ops.Quantiles.splitQs(8), 8L)}
       |SELECT p_label, target, bucket, lo, cum FROM hq
       |ORDER BY p_label""".stripMargin)

  /** Trimmed mean over document token counts
    * ([[graft.ops.Quantiles.trimmedMean]], 5% each side): the robust
    * location card — exact rank-interval overlaps per bucket, one final
    * division; the statistic a heavy-tailed length column breaks the
    * plain mean on. */
  val qTrimmedMean: Q = "q_trimmed_mean" -> (
    (s: SparkSession, d: String) => {
      val n = Tables.documents(s, d)
        .select(Text.tokenCount(col("text")).cast("long").as("v"))
      graft.ops.Quantiles.trimmedMean(
        graft.ops.Quantiles.histogram(n, "v", 8L), 1, 20, 8L)
    },
    s"""WITH src AS (SELECT CAST(len($TOKS) AS BIGINT) AS v FROM documents),
       |${graft.ops.Quantiles.trimmedMeanCtes("src", 1, 20, 8L)}
       |SELECT n, k_trim, kept_n, kept_mass, trimmed_mean FROM tm""".stripMargin)

  /** Canonical pick ([[graft.ops.Dedup.canonicalPick]]): WHICH
    * duplicate each near-dup cluster keeps — the member with the most
    * tokens (the caller's policy column; id-ascending tiebreak keeps
    * the kept set engine-replayable). The oracle replays
    * [[qDupClusters]]' recursive components plus a windowed argmax. */
  val qCanonicalPick: Q = "q_canonical_pick" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.minhashLsh(docs, tau = MH_TAU,
        shingleLen = 3, bands = MH_BANDS, rowsPerBand = MH_ROWS)
      Dedup.canonicalPick(
          Dedup.duplicateClusters(pairs),
          docs.select(col("doc_id").as("id"),
            Text.tokenCount(col("text")).cast("long").as("score")))
        .orderBy(col("cluster_id"))
    },
    s"""WITH RECURSIVE src0 AS (SELECT doc_id AS id, text FROM documents),
       |${minhashPairsCtes("src0")},
       |p AS (SELECT id_a, id_b FROM mh_pairs WHERE jaccard_est >= $MH_TAU),
       |e AS (SELECT id_a AS src, id_b AS dst FROM p
       |  UNION ALL SELECT id_b, id_a FROM p),
       |v AS (SELECT DISTINCT src AS id FROM e),
       |reach(id, r) AS (
       |  SELECT id, id FROM v
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
       |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |tk AS (SELECT doc_id AS id, CAST(len($TOKS) AS BIGINT) AS score
       |  FROM documents),
       |jn AS (SELECT cl.cluster_id, cl.id, tk.score
       |  FROM cl JOIN tk USING (id)),
       |rk AS (SELECT cluster_id, id, score,
       |    row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY score DESC, id ASC) AS rn,
       |    CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_docs
       |  FROM jn)
       |SELECT cluster_id, id AS kept_id, n_docs, score AS kept_score
       |FROM rk WHERE rn = 1 ORDER BY cluster_id""".stripMargin)

  /** End-to-end curation pipeline over the r13 operators: blocklist
    * screen (policy filter) → near-dup clustering → canonical pick
    * (keep the longest member, id tiebreak) → Simpson diversity floor
    * (≥ 0.96, the corpus median region — it bites) → per-source kept
    * counts and token mass. The oracle replays every stage (blocklist
    * units, MinHash bands, recursive components, windowed argmax,
    * integer diversity) — one hash certifying the stages COMPOSE, not
    * just work alone. */
  val qCurationV2: Q = "q_curation_v2" -> (
    (s: SparkSession, d: String) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val hits = graft.ops.Blocklist.screen(docs,
        BlocklistTerms.toDF("term", "category"))
      val clean = docs
        .join(hits.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
        .persist()
      val clusters = Dedup.duplicateClusters(
        Dedup.minhashLsh(clean, tau = MH_TAU, shingleLen = 3,
          bands = MH_BANDS, rowsPerBand = MH_ROWS))
      val keptFromClusters = Dedup.canonicalPick(clusters,
          clean.select(col("doc_id").as("id"),
            Text.tokenCount(col("text")).cast("long").as("score")))
        .select(col("kept_id").as("doc_id"))
      val unclustered = clean
        .join(clusters.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
        .select(col("doc_id"))
      val kept = clean.join(
        unclustered.unionAll(keptFromClusters), Seq("doc_id"), "left_semi")
      val card = graft.ops.TextStats.simpsonDiversity(kept)
        .filter(col("diversity") >= 0.96)
        .select(col("id").as("doc_id"), col("n_tokens"))
      kept.select(col("doc_id"), col("source"))
        .join(card, "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("n_kept"),
          sum(col("n_tokens")).cast("long").as("tokens_kept"))
        .orderBy(col("source"))
    },
    s"""WITH RECURSIVE
       |${graft.ops.Blocklist.screenSql(BlocklistTerms)},
       |clean AS (SELECT doc_id, source, text FROM documents
       |  WHERE doc_id NOT IN (SELECT doc_id FROM bl_hits)),
       |src0 AS (SELECT doc_id AS id, text FROM clean),
       |${minhashPairsCtes("src0")},
       |p AS (SELECT id_a, id_b FROM mh_pairs WHERE jaccard_est >= $MH_TAU),
       |e AS (SELECT id_a AS src, id_b AS dst FROM p
       |  UNION ALL SELECT id_b, id_a FROM p),
       |v AS (SELECT DISTINCT src AS id FROM e),
       |reach(id, r) AS (
       |  SELECT id, id FROM v
       |  UNION
       |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
       |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       |tk AS (SELECT doc_id AS id, CAST(len($TOKS) AS BIGINT) AS score
       |  FROM clean),
       |jn AS (SELECT cl.cluster_id, cl.id, tk.score
       |  FROM cl JOIN tk USING (id)),
       |rk AS (SELECT cluster_id, id, score,
       |    row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY score DESC, id ASC) AS rn FROM jn),
       |kept AS (SELECT id FROM rk WHERE rn = 1
       |  UNION ALL
       |  SELECT doc_id AS id FROM clean
       |  WHERE doc_id NOT IN (SELECT id FROM cl)),
       |t2 AS (SELECT c.doc_id, unnest($TOKS) AS term
       |  FROM clean c JOIN kept ON kept.id = c.doc_id
       |  WHERE c.text IS NOT NULL),
       |tf2 AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM t2 GROUP BY 1, 2),
       |card AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |    CAST(sum(tf * (tf - 1)) AS BIGINT) AS rep_pairs
       |  FROM tf2 GROUP BY doc_id),
       |fl AS (SELECT doc_id, n_tokens FROM card WHERE n_tokens >= 2
       |  AND 1.0 - CAST(rep_pairs AS DOUBLE)
       |    / CAST(n_tokens * (n_tokens - 1) AS DOUBLE) >= 0.96)
       |SELECT c.source, CAST(count(*) AS BIGINT) AS n_kept,
       |  CAST(sum(fl.n_tokens) AS BIGINT) AS tokens_kept
       |FROM fl JOIN clean c USING (doc_id)
       |GROUP BY c.source ORDER BY c.source""".stripMargin)

  /** Neyman-optimal label-budget allocation
    * ([[graft.ops.Sampling.neymanAllocation]]): 1000 samples across the
    * 20 sources, n_h ∝ N_h·σ_h over token counts — high-variance
    * sources get more budget. Integer-scaled weights + exact
    * largest-remainder make the allocation engine-replayable (a naive
    * double weight sum is order-dependent and can flip a remainder
    * rank). */
  val qNeyman: Q = "q_neyman" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Sampling.neymanAllocation(
          Tables.documents(s, d)
            .select(col("source"), Text.tokenCount(col("text")).as("v")),
          Seq("source"), "v", budget = 1000L)
        .orderBy(col("source")),
    s"""WITH src AS (SELECT source, CAST(len($TOKS) AS DECIMAL(18,0)) AS v
       |  FROM documents),
       |m AS (SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
       |    CAST(sum(v) AS DECIMAL(18,0)) AS sv,
       |    CAST(sum(v * v) AS DECIMAL(27,0)) AS sv2
       |  FROM src GROUP BY source),
       |w AS (SELECT source, n_rows,
       |    CAST(floor(sqrt(CAST(
       |        CAST(CAST(n_rows AS DECIMAL(10,0)) * sv2 AS DECIMAL(38,0))
       |        - CAST(sv * sv AS DECIMAL(38,0)) AS DOUBLE)
       |      / CAST(n_rows * n_rows AS DOUBLE))
       |      * CAST(n_rows AS DOUBLE) * 1048576.0) AS BIGINT)
       |      AS weight_scaled
       |  FROM m),
       |t AS (SELECT CAST(sum(weight_scaled) AS DECIMAL(38,0)) AS wtot FROM w),
       |b AS (SELECT source, n_rows, weight_scaled,
       |    CAST(1000 AS DECIMAL(38,0)) * weight_scaled AS bw, t.wtot
       |  FROM w, t),
       |c AS (SELECT source, n_rows, weight_scaled,
       |    CASE WHEN wtot > 0 THEN bw % wtot ELSE 0 END AS rem,
       |    CASE WHEN wtot > 0
       |      THEN CAST((bw - (bw % wtot)) / wtot AS BIGINT)
       |      ELSE 0 END AS base
       |  FROM b),
       |l AS (SELECT 1000 - COALESCE(sum(base), 0) AS leftover FROM c),
       |r AS (SELECT c.source, c.n_rows, c.weight_scaled, c.base, l.leftover,
       |    row_number() OVER (ORDER BY c.rem DESC, c.source ASC) AS rk
       |  FROM c, l)
       |SELECT source, n_rows, weight_scaled,
       |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
       |    AS alloc
       |FROM r ORDER BY source""".stripMargin)

  /** TIME-TRAVEL histogram read ([[graft.ops.Quantiles.fromStoreAsOf]]):
    * three slices land in the store, the quantile card is read AS OF the
    * second batch tag — the oracle recomputes from the first two slices'
    * raw rows, so the hash certifies the tag cut reconstructs exactly
    * the state a past reader saw (audit/bisect/repro without
    * snapshots). */
  val qHistAsof: Q = "q_hist_asof" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val store = codebookPath(d, "hist_tokcnt_asof")
      (0 to 2).foreach { k =>
        graft.ops.Quantiles.storeAppend(
          docs.filter(col("doc_id") % 3 === k)
            .select(Text.tokenCount(col("text")).cast("long").as("v")),
          store, s"b$k", "v", 8L)
      }
      graft.ops.Quantiles.quantiles(
          graft.ops.Quantiles.fromStoreAsOf(s, store, "b1"),
          graft.ops.Quantiles.StandardQs, 8L)
        .orderBy(col("p_label"))
    },
    s"""WITH src AS (SELECT CAST(len($TOKS) AS BIGINT) AS v FROM documents
       |  WHERE doc_id % 3 < 2),
       |${graft.ops.Quantiles.oracleCtes("src", graft.ops.Quantiles.StandardQs, 8L)}
       |SELECT p_label, target, bucket, lo, cum FROM hq
       |ORDER BY p_label""".stripMargin)

  /** TIME-TRAVEL decayed read
    * ([[graft.ops.Decay.decayedFromStoreAsOf]]): the freshness report
    * as of the second batch tag — the takedown-proof audit read (a
    * later retraction tag sorts after and is excluded). */
  val qDecayedAsof: Q = "q_decayed_asof" -> (
    (s: SparkSession, d: String) => {
      val ev = Tables.events(s, d)
      val asOf = ev.agg(max(col("ts_us"))).head.getLong(0)
      val store = codebookPath(d, "decay_store_asof")
      (0 to 2).foreach { k =>
        graft.ops.Decay.storeAppend(
          ev.filter(pmod(col("event_id"), lit(3)) === k), store, s"b$k",
          Seq("event_type"), "ts_us", 604800000000L)
      }
      graft.ops.Decay.decayedFromStoreAsOf(s, store, Seq("event_type"),
          asOf, 604800000000L, asOfTag = "b1")
        .orderBy(col("event_type"))
    },
    s"""WITH $EV,
       |m AS (SELECT max(ts_us) AS as_of FROM ev),
       |sl AS (SELECT * FROM ev WHERE event_id % 3 < 2),
       |b AS (SELECT event_type, ts_us // 604800000000 AS period,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM sl, m WHERE ts_us <= m.as_of GROUP BY 1, 2),
       |w AS (SELECT event_type, cnt,
       |    CASE WHEN ((SELECT as_of FROM m) // 604800000000) - period <= 40
       |      THEN (CAST(1 AS BIGINT) <<
       |        (40 - (((SELECT as_of FROM m) // 604800000000) - period)))
       |      ELSE CAST(0 AS BIGINT) END AS w
       |  FROM b WHERE period <= (SELECT as_of FROM m) // 604800000000)
       |SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_events,
       |  CAST(sum(cnt * w) AS BIGINT) AS decayed_scaled,
       |  CAST(CAST(sum(cnt * w) AS BIGINT) AS DOUBLE) / 1099511627776.0
       |    AS decayed
       |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin)

  /** [[qBlocklist]] with the term list arriving through the MAINTAINED
    * policy store ([[graft.ops.Blocklist.termStoreAppend]]): two term
    * batches plus a decoy term appended and then RETRACTED — the final
    * net list equals the inline fixture's, so the oracle is
    * [[qBlocklist]]'s verbatim and the hash certifies the whole
    * append/retract/current-list algebra. */
  val qBlocklistStored: Q = "q_blocklist_stored" -> (
    (s: SparkSession, d: String) => {
      import s.implicits._
      val store = codebookPath(d, "blocklist_terms")
      val (first, rest) = BlocklistTerms.splitAt(3)
      graft.ops.Blocklist.termStoreAppend(
        first.toDF("term", "category"), store, "b0")
      graft.ops.Blocklist.termStoreAppend(
        rest.toDF("term", "category"), store, "b1")
      val decoy = Seq(("the", "decoy")).toDF("term", "category")
      graft.ops.Blocklist.termStoreAppend(decoy, store, "b2")
      graft.ops.Blocklist.termStoreRetract(decoy, store, "b2")
      graft.ops.Blocklist.screenFromStore(Tables.documents(s, d), store)
        .orderBy(col("doc_id"), col("category"))
    },
    qBlocklist._2._2)

  /** Capacity-weighted rendezvous
    * ([[graft.ops.Shards.rendezvousShardWeighted]], capacities 4:2:1:1):
    * per-shard doc counts must track capacity RATIOS — heterogeneous
    * export targets without the float-weighted form's banned
    * transcendental. */
  val qRendezvousWeighted: Q = "q_rendezvous_weighted" -> (
    (s: SparkSession, d: String) => {
      Tables.documents(s, d)
        .select(graft.ops.Shards.rendezvousShardWeighted(
          col("doc_id"), Seq(4, 2, 1, 1), "wring").as("shard"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy(col("shard"))
    },
    s"""SELECT ${graft.ops.Shards.rendezvousWeightedSql(
            "doc_id", Seq(4, 2, 1, 1), "wring")} AS shard,
       |  CAST(count(*) AS BIGINT) AS n
       |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin)

  /** CUSUM drift detection ([[graft.ops.Trend.cusum]]) over daily event
    * volumes: per type, accumulate each day's excess over the type's
    * integer mean and alarm when the accumulation crosses 5 — the
    * change-point monitor that catches a persistent small shift no
    * single day reveals. The recurrence is evaluated via its
    * prefix-sum closed form (two running integer windows), so both
    * engines replay it bit-exactly. */
  val qCusum: Q = "q_cusum" -> (
    (s: SparkSession, d: String) => {
      val c = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("ts_us div 86400000000").as("period"))
        .agg(count(lit(1)).cast("long").as("c"))
      val allow = c.groupBy(col("event_type"))
        .agg(expr("(sum(c) + count(1) - 1) div count(1)")
          .cast("long").as("allow"))
      val excess = c.join(broadcast(allow), "event_type")
        .select(col("event_type"), col("period"),
          (col("c") - col("allow")).as("excess"))
      graft.ops.Trend.cusum(excess, Seq("event_type"), "period", "excess",
          allowance = 0L, threshold = 5L)
        .orderBy(col("event_type"), col("period"))
    },
    s"""WITH $EV,
       |c AS (SELECT event_type, ts_us // 86400000000 AS period,
       |    CAST(count(*) AS BIGINT) AS c FROM ev GROUP BY 1, 2),
       |a AS (SELECT event_type,
       |    CAST((sum(c) + count(*) - 1) // count(*) AS BIGINT) AS allow
       |  FROM c GROUP BY 1),
       |x AS (SELECT c.event_type, period, CAST(c.c - a.allow AS BIGINT) AS x
       |  FROM c JOIN a USING (event_type)),
       |p AS (SELECT event_type, period, x,
       |    CAST(sum(x) OVER (PARTITION BY event_type ORDER BY period)
       |      AS BIGINT) AS pp FROM x),
       |m AS (SELECT event_type, period, x, pp,
       |    CAST(min(pp) OVER (PARTITION BY event_type ORDER BY period)
       |      AS BIGINT) AS mm FROM p)
       |SELECT event_type, period, x,
       |  CAST(pp - least(mm, 0) AS BIGINT) AS cusum,
       |  (pp - least(mm, 0)) >= 5 AS alarm
       |FROM m ORDER BY event_type, period""".stripMargin)

  /** [[qCusum]] with the per-day counts arriving through the additive
    * period store ([[graft.ops.Decay.storeAppend]] at a one-day
    * half-life: `period = day`, three event slices) — the maintained
    * drift monitor; additivity makes the merged series equal the
    * one-shot's, so the oracle is [[qCusum]]'s verbatim. */
  val qCusumStored: Q = "q_cusum_stored" -> (
    (s: SparkSession, d: String) => {
      val ev = Tables.events(s, d)
      val store = codebookPath(d, "cusum_daily")
      (0 to 2).foreach { k =>
        graft.ops.Decay.storeAppend(
          ev.filter(pmod(col("event_id"), lit(3)) === k), store, s"b$k",
          Seq("event_type"), "ts_us", 86400000000L)
      }
      val c = graft.ops.Stores.freshRead(s, store)
        .groupBy(col("event_type"), col("period"))
        .agg(sum(col("cnt")).cast("long").as("c"))
      val allow = c.groupBy(col("event_type"))
        .agg(expr("(sum(c) + count(1) - 1) div count(1)")
          .cast("long").as("allow"))
      val excess = c.join(broadcast(allow), "event_type")
        .select(col("event_type"), col("period"),
          (col("c") - col("allow")).as("excess"))
      graft.ops.Trend.cusum(excess, Seq("event_type"), "period", "excess",
          allowance = 0L, threshold = 5L)
        .orderBy(col("event_type"), col("period"))
    },
    qCusum._2._2)

  /** Plan-then-route range export ([[graft.ops.Quantiles.splitPoints]]
    * + [[graft.ops.Quantiles.assignRange]]): boundaries planned from
    * the exact histogram, every doc routed map-only, per-shard counts
    * and value extents — non-overlapping extents certify the cut. The
    * oracle recomputes the boundaries AND the routing, so the hash
    * covers plan → route end to end. */
  val qRangeAssign: Q = "q_range_assign" -> (
    (s: SparkSession, d: String) => {
      val n = Tables.documents(s, d)
        .select(col("doc_id"), Text.tokenCount(col("text")).cast("long").as("v"))
      val bounds = graft.ops.Quantiles.splitPoints(
          graft.ops.Quantiles.histogram(n, "v", 8L), 8, 8L)
        .select(col("lo")).collect().map(_.getLong(0)).toSeq.sorted
      n.select(graft.ops.Quantiles.assignRange(col("v"), bounds).as("shard"),
          col("v"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).cast("long").as("n"),
          min(col("v")).as("v_min"), max(col("v")).as("v_max"))
        .orderBy(col("shard"))
    },
    s"""WITH src AS (SELECT doc_id, CAST(len($TOKS) AS BIGINT) AS v
       |  FROM documents),
       |${graft.ops.Quantiles.oracleCtes("src", graft.ops.Quantiles.splitQs(8), 8L)},
       |bd AS (SELECT lo FROM hq)
       |SELECT shard, CAST(count(*) AS BIGINT) AS n,
       |  min(v) AS v_min, max(v) AS v_max
       |FROM (SELECT v, CAST((SELECT count(*) FROM bd WHERE bd.lo <= s2.v)
       |    AS INT) AS shard
       |  FROM src s2)
       |GROUP BY shard ORDER BY shard""".stripMargin)

  /** Fano burstiness card ([[graft.ops.Trend.fanoFactor]]) over daily
    * per-type event volumes — characterizes what [[qCusum]] detects:
    * F ≈ 1 Poisson-organic, F ≫ 1 bursty, F ≪ 1 suspiciously regular.
    * Exact integer numerator/denominator, one division. */
  val qFano: Q = "q_fano" -> (
    (s: SparkSession, d: String) => {
      val c = Tables.events(s, d)
        .groupBy(col("event_type"),
          expr("ts_us div 86400000000").as("period"))
        .agg(count(lit(1)).cast("long").as("c"))
      graft.ops.Trend.fanoFactor(c, Seq("event_type"), "c")
        .orderBy(col("event_type"))
    },
    s"""WITH $EV,
       |c AS (SELECT event_type, ts_us // 86400000000 AS period,
       |    CAST(count(*) AS DECIMAL(18,0)) AS x FROM ev GROUP BY 1, 2),
       |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_periods,
       |    CAST(sum(x) AS DECIMAL(18,0)) AS sx,
       |    CAST(sum(x * x) AS DECIMAL(27,0)) AS sx2
       |  FROM c GROUP BY 1)
       |SELECT event_type, n_periods, CAST(sx AS BIGINT) AS total,
       |  CAST(CAST(CAST(n_periods AS DECIMAL(10,0)) * sx2 AS DECIMAL(38,0))
       |    - CAST(sx * sx AS DECIMAL(38,0)) AS BIGINT) AS fano_num,
       |  CAST(CAST(CAST(n_periods AS DECIMAL(10,0)) * sx AS DECIMAL(38,0))
       |    AS BIGINT) AS fano_den,
       |  CAST(CAST(CAST(n_periods AS DECIMAL(10,0)) * sx2 AS DECIMAL(38,0))
       |      - CAST(sx * sx AS DECIMAL(38,0)) AS DOUBLE)
       |    / CAST(CAST(CAST(n_periods AS DECIMAL(10,0)) * sx
       |      AS DECIMAL(38,0)) AS DOUBLE) AS fano
       |FROM m WHERE sx > 0 ORDER BY event_type""".stripMargin)

  /** Gini concentration ([[graft.ops.Profile.giniConcentration]]) of
    * token mass across sources — "is the corpus dominated by one
    * domain" as one exact number (the card that says whether a domain
    * cap is needed). */
  val qGini: Q = "q_gini" -> (
    (s: SparkSession, d: String) => {
      val masses = Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(sum(Text.tokenCount(col("text"))).cast("long").as("mass"))
      graft.ops.Profile.giniConcentration(masses, "source", "mass")
    },
    s"""WITH masses AS (SELECT source,
       |    CAST(sum(len($TOKS)) AS DECIMAL(18,0)) AS x
       |  FROM documents GROUP BY source),
       |r AS (SELECT x, CAST(row_number() OVER (ORDER BY x ASC, source ASC)
       |    AS DECIMAL(10,0)) AS i FROM masses),
       |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
       |    CAST(sum(x) AS DECIMAL(18,0)) AS sx,
       |    CAST(sum(i * x) AS DECIMAL(38,0)) AS six FROM r)
       |SELECT n_groups, CAST(sx AS BIGINT) AS total,
       |  CAST(CAST(CAST(2 AS DECIMAL(10,0)) * six AS DECIMAL(38,0))
       |    - CAST(CAST(n_groups + 1 AS DECIMAL(10,0)) * sx AS DECIMAL(38,0))
       |    AS BIGINT) AS gini_num,
       |  CAST(CAST(CAST(n_groups AS DECIMAL(10,0)) * sx AS DECIMAL(38,0))
       |    AS BIGINT) AS gini_den,
       |  CAST(CAST(CAST(2 AS DECIMAL(10,0)) * six AS DECIMAL(38,0))
       |      - CAST(CAST(n_groups + 1 AS DECIMAL(10,0)) * sx
       |        AS DECIMAL(38,0)) AS DOUBLE)
       |    / CAST(CAST(CAST(n_groups AS DECIMAL(10,0)) * sx
       |      AS DECIMAL(38,0)) AS DOUBLE) AS gini
       |FROM agg WHERE sx > 0""".stripMargin)

  // ------------------------------------------------------ statistical tests

  /** Mann–Whitney rank-sum ([[graft.ops.Stats.mannWhitney]]): did the
    * 'purchase' value distribution shift vs 'error'? Exact doubled-rank
    * U (integer even under ties) + tie-corrected z — the nonparametric
    * readout heavy-tailed value metrics need (a mean test is dominated
    * by the tail). The cumulative pass runs over the DISTINCT-value
    * axis only (cents here — quantization is the scale lever). */
  val qMannWhitney: Q = "q_mannwhitney" -> (
    (s: SparkSession, d: String) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "error"))
        .select((col("value").cast("decimal(18,2)") * 100).cast("long")
            .as("cents"),
          col("event_type"))
      graft.ops.Stats.mannWhitney(ev, Seq(), "cents",
        "event_type = 'purchase'")
    },
    s"""WITH $EV,
       |f AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a
       |  FROM ev WHERE event_type IN ('purchase', 'error')),
       |pc AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt,
       |    CAST(sum(a) AS BIGINT) AS cnt_a FROM f GROUP BY v),
       |cw AS (SELECT v, cnt, cnt_a,
       |    CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum,
       |    CAST(sum(cnt) OVER () AS BIGINT) AS n,
       |    CAST(sum(cnt_a) OVER () AS BIGINT) AS n_a
       |  FROM pc),
       |ag AS (SELECT max(n) AS n, max(n_a) AS n_a,
       |    CAST(sum(CAST(cnt_a AS DECIMAL(19,0))
       |      * CAST(2 * cum - cnt + 1 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS r2a,
       |    CAST(sum(CAST(cnt AS DECIMAL(19,0)) * CAST(cnt AS DECIMAL(19,0))
       |        * CAST(cnt AS DECIMAL(19,0)) - CAST(cnt AS DECIMAL(19,0)))
       |      AS DECIMAL(38,0)) AS tie_t
       |  FROM cw),
       |st AS (SELECT n, n_a, n - n_a AS n_b,
       |    CAST(r2a - CAST(CAST(n_a AS DECIMAL(19,0))
       |      * CAST(n_a + 1 AS DECIMAL(19,0)) AS DECIMAL(38,0))
       |      AS DECIMAL(38,0)) AS u2,
       |    tie_t,
       |    CAST(CAST(CAST(n_a AS DECIMAL(19,0)) * CAST(n - n_a AS DECIMAL(19,0))
       |        AS DECIMAL(38,0))
       |      * CAST(CAST(CAST(n + 1 AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
       |          AS DECIMAL(38,0)) * CAST(n - 1 AS DECIMAL(19,0)) - tie_t
       |        AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS v_num,
       |    3 * n * (n - 1) AS v_den
       |  FROM ag)
       |SELECT n_a, n_b, CAST(u2 AS BIGINT) AS u2_a,
       |  CAST(u2 AS DOUBLE) / 2.0 AS u_a,
       |  CAST(tie_t AS BIGINT) AS tie_t,
       |  CASE WHEN n_a = 0 OR n_b = 0 OR v_num = 0 THEN NULL
       |    ELSE (CAST(u2 AS DOUBLE) - CAST(n_a * n_b AS DOUBLE))
       |      / sqrt(CAST(v_num AS DOUBLE) / CAST(v_den AS DOUBLE)) END AS z
       |FROM st""".stripMargin)

  /** Two-sample Kolmogorov–Smirnov ([[graft.ops.Stats.ksTest]]):
    * WHERE do 'purchase' and 'view' value distributions diverge most?
    * D as an exact rational (max |cum_a·n_b − cum_b·n_a| / n_a·n_b)
    * with the smallest attaining value — the drift-triage complement
    * to the rank-sum's single shift verdict. */
  val qKsTest: Q = "q_ks_test" -> (
    (s: SparkSession, d: String) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "view"))
        .select((col("value").cast("decimal(18,2)") * 100).cast("long")
            .as("cents"),
          col("event_type"))
      graft.ops.Stats.ksTest(ev, Seq(), "cents", "event_type = 'purchase'")
    },
    s"""WITH $EV,
       |f AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a
       |  FROM ev WHERE event_type IN ('purchase', 'view')),
       |pc AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt,
       |    CAST(sum(a) AS BIGINT) AS cnt_a FROM f GROUP BY v),
       |cw AS (SELECT v,
       |    CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum,
       |    CAST(sum(cnt_a) OVER (ORDER BY v) AS BIGINT) AS cum_a,
       |    CAST(sum(cnt) OVER () AS BIGINT) AS n,
       |    CAST(sum(cnt_a) OVER () AS BIGINT) AS n_a
       |  FROM pc),
       |dd AS (SELECT v, n_a, n - n_a AS n_b,
       |    abs(cum_a * (n - n_a) - (cum - cum_a) * n_a) AS diff_num FROM cw),
       |top AS (SELECT * FROM dd ORDER BY diff_num DESC, v ASC LIMIT 1)
       |SELECT n_a, n_b, CAST(diff_num AS BIGINT) AS ks_num,
       |  n_a * n_b AS ks_den,
       |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
       |    ELSE CAST(diff_num AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) END AS d,
       |  v AS at_v
       |FROM top""".stripMargin)

  /** Cohen's kappa ([[graft.ops.Stats.kappa]]) between the lang-ID
    * heuristic and ground-truth `lang` — the chance-debited eval card
    * for the classifier [[qLangId]] grades raw: 'zh' is never
    * predicted (no lexicon), so kappa sits meaningfully below raw
    * accuracy. All-integer but the final division. */
  val qKappaLangid: Q = "q_kappa_langid" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Stats.kappa(
        Tables.documents(s, d)
          .select(col("lang"), Text.langId(col("text")).as("lang_pred")),
        "lang", "lang_pred"),
    {
      def hits(lex: Seq[String]) = {
        val lst = lex.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter($TOKS, t -> list_contains($lst, t)))"
      }
      val de = hits(Seq("der", "die", "das", "und", "ein", "ist", "zu"))
      val en = hits(Seq("the", "a", "of", "and", "to", "in", "is"))
      val es = hits(Seq("el", "la", "de", "y", "un", "una", "es"))
      val fr = hits(Seq("le", "la", "de", "et", "un", "une", "est"))
      s"""WITH h AS (SELECT lang, $de AS h_de, $en AS h_en, $es AS h_es,
         |    $fr AS h_fr FROM documents),
         |pred AS (SELECT lang AS ka, CASE
         |    WHEN h_de > 0 AND h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
         |    WHEN h_en > 0 AND h_en >= h_es AND h_en >= h_fr THEN 'en'
         |    WHEN h_es > 0 AND h_es >= h_fr THEN 'es'
         |    WHEN h_fr > 0 THEN 'fr'
         |    ELSE 'und' END AS kp
         |  FROM h),
         |cells AS (SELECT ka, kp, CAST(count(*) AS BIGINT) AS cnt
         |  FROM pred GROUP BY 1, 2),
         |rm AS (SELECT ka AS k, CAST(sum(cnt) AS BIGINT) AS r FROM cells GROUP BY 1),
         |cm AS (SELECT kp AS k, CAST(sum(cnt) AS BIGINT) AS c FROM cells GROUP BY 1),
         |pe AS (SELECT COALESCE(CAST(sum(CAST(r AS DECIMAL(19,0))
         |      * CAST(c AS DECIMAL(19,0))) AS DECIMAL(38,0)),
         |    CAST(0 AS DECIMAL(38,0))) AS pe_num
         |  FROM rm JOIN cm USING (k)),
         |tot AS (SELECT COALESCE(CAST(sum(cnt) AS BIGINT), 0) AS n,
         |    COALESCE(CAST(sum(CASE WHEN ka = kp THEN cnt ELSE 0 END)
         |      AS BIGINT), 0) AS n_agree
         |  FROM cells)
         |SELECT n, n_agree, CAST(pe_num AS BIGINT) AS pe_num,
         |  CAST(CAST(CAST(n AS DECIMAL(19,0)) * CAST(n_agree AS DECIMAL(19,0))
         |    AS DECIMAL(38,0)) - pe_num AS BIGINT) AS kappa_num,
         |  CAST(CAST(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
         |    AS DECIMAL(38,0)) - pe_num AS BIGINT) AS kappa_den,
         |  CASE WHEN CAST(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
         |      AS DECIMAL(38,0)) - pe_num = 0 THEN NULL
         |    ELSE CAST(CAST(CAST(n AS DECIMAL(19,0)) * CAST(n_agree AS DECIMAL(19,0))
         |        AS DECIMAL(38,0)) - pe_num AS DOUBLE)
         |      / CAST(CAST(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
         |        AS DECIMAL(38,0)) - pe_num AS DOUBLE) END AS kappa
         |FROM tot, pe""".stripMargin
    })

  /** 2×2 chi-square ([[graft.ops.Stats.chi2x2]]): is "doc is English"
    * associated with "doc is long" (n_chars ≥ 300)? Exact-rational via
    * the determinant form (N·det²/(r1·r0·c1·c0)) plus the signed phi
    * effect size — the curation card for "does this filter interact
    * with language balance". */
  val qChi2Assoc: Q = "q_chi2_assoc" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Stats.chi2x2(Tables.documents(s, d),
        "lang = 'en'", "n_chars >= 300"),
    s"""WITH f AS (SELECT (lang = 'en') AS a, (n_chars >= 300) AS b
       |  FROM documents),
       |ct AS (SELECT
       |    CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS o11,
       |    CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS o10,
       |    CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS o01,
       |    CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS o00
       |  FROM f),
       |st AS (SELECT o11, o10, o01, o00, o11 + o10 + o01 + o00 AS n,
       |    CAST(CAST(o11 AS DECIMAL(19,0)) * CAST(o00 AS DECIMAL(19,0))
       |      - CAST(o10 AS DECIMAL(19,0)) * CAST(o01 AS DECIMAL(19,0))
       |      AS DECIMAL(38,0)) AS det,
       |    o11 + o10 AS r1, o01 + o00 AS r0, o11 + o01 AS c1, o10 + o00 AS c0
       |  FROM ct)
       |SELECT n, o11, o10, o01, o00, CAST(det AS BIGINT) AS det,
       |  CASE WHEN r1 = 0 OR r0 = 0 OR c1 = 0 OR c0 = 0 THEN NULL
       |    ELSE CAST(CAST(CAST(n AS DECIMAL(19,0)) * CAST(det * det
       |        AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS DOUBLE)
       |      / CAST(CAST(CAST(CAST(r1 AS DECIMAL(19,0)) * CAST(r0 AS DECIMAL(19,0))
       |          AS DECIMAL(38,0)) * CAST(CAST(c1 AS DECIMAL(19,0))
       |          * CAST(c0 AS DECIMAL(19,0)) AS DECIMAL(38,0))
       |        AS DECIMAL(38,0)) AS DOUBLE) END AS chi2,
       |  CASE WHEN r1 = 0 OR r0 = 0 OR c1 = 0 OR c0 = 0 THEN NULL
       |    ELSE CAST(det AS DOUBLE)
       |      / (sqrt(CAST(r1 * r0 AS DOUBLE)) * sqrt(CAST(c1 * c0 AS DOUBLE)))
       |    END AS phi
       |FROM st""".stripMargin)

  /** Goodman–Kruskal lambda ([[graft.ops.Stats.gkLambda]]): how much
    * does the lang-ID prediction reduce error guessing true `lang`?
    * The general-r×c association card that stays integer-exact; 0
    * would mean the classifier never beats always-guessing the
    * majority language. */
  val qGkLambda: Q = "q_gk_lambda" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Stats.gkLambda(
        Tables.documents(s, d)
          .select(col("lang"), Text.langId(col("text")).as("lang_pred")),
        "lang_pred", "lang"),
    {
      def hits(lex: Seq[String]) = {
        val lst = lex.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter($TOKS, t -> list_contains($lst, t)))"
      }
      val de = hits(Seq("der", "die", "das", "und", "ein", "ist", "zu"))
      val en = hits(Seq("the", "a", "of", "and", "to", "in", "is"))
      val es = hits(Seq("el", "la", "de", "y", "un", "una", "es"))
      val fr = hits(Seq("le", "la", "de", "et", "un", "une", "est"))
      s"""WITH h AS (SELECT lang, $de AS h_de, $en AS h_en, $es AS h_es,
         |    $fr AS h_fr FROM documents),
         |pred AS (SELECT CASE
         |    WHEN h_de > 0 AND h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
         |    WHEN h_en > 0 AND h_en >= h_es AND h_en >= h_fr THEN 'en'
         |    WHEN h_es > 0 AND h_es >= h_fr THEN 'es'
         |    WHEN h_fr > 0 THEN 'fr'
         |    ELSE 'und' END AS x, lang AS y
         |  FROM h),
         |cells AS (SELECT x, y, CAST(count(*) AS BIGINT) AS cnt
         |  FROM pred GROUP BY 1, 2),
         |sm AS (SELECT COALESCE(CAST(sum(mx) AS BIGINT), 0) AS sum_modal
         |  FROM (SELECT x, max(cnt) AS mx FROM cells GROUP BY x)),
         |my AS (SELECT COALESCE(max(cy), 0) AS modal_y
         |  FROM (SELECT y, CAST(sum(cnt) AS BIGINT) AS cy FROM cells GROUP BY y)),
         |tot AS (SELECT COALESCE(CAST(sum(cnt) AS BIGINT), 0) AS n FROM cells)
         |SELECT n, sum_modal, modal_y,
         |  sum_modal - modal_y AS lambda_num, n - modal_y AS lambda_den,
         |  CASE WHEN n = modal_y THEN NULL
         |    ELSE CAST(sum_modal - modal_y AS DOUBLE)
         |      / CAST(n - modal_y AS DOUBLE) END AS lambda_gk
         |FROM tot, sm, my""".stripMargin
    })

  /** Spearman rank correlation ([[graft.ops.Stats.spearman]]) between
    * per-user activity (event count) and spend (total value cents) —
    * doubled-midrank-exact monotone association over the per-entity
    * aggregate relation (entity-bounded, the op's documented scale
    * contract). */
  val qSpearman: Q = "q_spearman" -> (
    (s: SparkSession, d: String) => {
      val dec2 = col("value").cast("decimal(18,2)")
      val u = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          (sum(dec2) * 100).cast("long").as("cents"))
      graft.ops.Stats.spearman(u, "n_events", "cents")
    },
    s"""WITH $EV,
       |u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS x,
       |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
       |  FROM ev GROUP BY 1),
       |rx AS (SELECT x, CAST(count(*) AS BIGINT) AS cnt FROM u GROUP BY x),
       |rx2 AS (SELECT x, 2 * CAST(sum(cnt) OVER (ORDER BY x) AS BIGINT)
       |    - cnt + 1 AS dx FROM rx),
       |ry AS (SELECT y, CAST(count(*) AS BIGINT) AS cnt FROM u GROUP BY y),
       |ry2 AS (SELECT y, 2 * CAST(sum(cnt) OVER (ORDER BY y) AS BIGINT)
       |    - cnt + 1 AS dy FROM ry),
       |j AS (SELECT u.x, u.y, rx2.dx, ry2.dy
       |  FROM u JOIN rx2 USING (x) JOIN ry2 USING (y)),
       |ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CAST(dx AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sdx,
       |    CAST(sum(CAST(dy AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sdy,
       |    CAST(sum(CAST(dx AS DECIMAL(19,0)) * CAST(dy AS DECIMAL(19,0)))
       |      AS DECIMAL(38,0)) AS sxy,
       |    CAST(sum(CAST(dx AS DECIMAL(19,0)) * CAST(dx AS DECIMAL(19,0)))
       |      AS DECIMAL(38,0)) AS sxx,
       |    CAST(sum(CAST(dy AS DECIMAL(19,0)) * CAST(dy AS DECIMAL(19,0)))
       |      AS DECIMAL(38,0)) AS syy
       |  FROM j),
       |st AS (SELECT n,
       |    CAST(CAST(n AS DECIMAL(19,0)) * sxy - CAST(sdx * sdy
       |      AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS num,
       |    CAST(CAST(n AS DECIMAL(19,0)) * sxx - CAST(sdx * sdx
       |      AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS sx,
       |    CAST(CAST(n AS DECIMAL(19,0)) * syy - CAST(sdy * sdy
       |      AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS sy
       |  FROM ag)
       |SELECT n, CAST(num AS BIGINT) AS s_xy, CAST(sx AS BIGINT) AS s_x,
       |  CAST(sy AS BIGINT) AS s_y,
       |  CASE WHEN sx = 0 OR sy = 0 THEN NULL
       |    ELSE CAST(num AS DOUBLE)
       |      / (sqrt(CAST(sx AS DOUBLE)) * sqrt(CAST(sy AS DOUBLE))) END AS rho
       |FROM st""".stripMargin)

  /** KS drift vs the additive histogram store
    * ([[graft.ops.Stats.ksDriftFromStore]]): the token-count reference
    * CDF is maintained incrementally (two appended slices, never
    * re-scanned); an incoming biased batch (the 'zh' docs) is graded
    * against it at bucket resolution with an INTEGER-compared rational
    * threshold — the CDF-shape drift monitor complementing
    * [[qCusum]]'s count-level detector. The oracle replays both
    * histograms and the argmax from the raw corpus. */
  val qKsDriftStored: Q = "q_ks_drift_stored" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val store = codebookPath(d, "ks_ref_hist")
      (0 to 1).foreach { k =>
        graft.ops.Quantiles.storeAppend(
          docs.filter(col("doc_id") % 3 === k)
            .select(Text.tokenCount(col("text")).cast("long").as("v")),
          store, s"b$k", "v", 8L)
      }
      val batch = docs.filter(col("lang") === "zh")
        .select(Text.tokenCount(col("text")).cast("long").as("v"))
      graft.ops.Stats.ksDriftFromStore(s, store, batch, "v", 8L, 1L, 10L)
    },
    s"""WITH ref AS (SELECT CAST(len($TOKS) AS BIGINT) // 8 AS bucket,
       |    CAST(count(*) AS BIGINT) AS cr
       |  FROM documents WHERE doc_id % 3 IN (0, 1) GROUP BY 1),
       |bt AS (SELECT CAST(len($TOKS) AS BIGINT) // 8 AS bucket,
       |    CAST(count(*) AS BIGINT) AS cb
       |  FROM documents WHERE lang = 'zh' GROUP BY 1),
       |j AS (SELECT COALESCE(ref.bucket, bt.bucket) AS bucket,
       |    COALESCE(cr, 0) AS cr, COALESCE(cb, 0) AS cb
       |  FROM ref FULL OUTER JOIN bt ON ref.bucket = bt.bucket),
       |cw AS (SELECT bucket,
       |    CAST(sum(cr) OVER (ORDER BY bucket) AS BIGINT) AS cum_r,
       |    CAST(sum(cb) OVER (ORDER BY bucket) AS BIGINT) AS cum_b,
       |    CAST(sum(cr) OVER () AS BIGINT) AS n_ref,
       |    CAST(sum(cb) OVER () AS BIGINT) AS n_batch
       |  FROM j),
       |dd AS (SELECT bucket, n_ref, n_batch,
       |    abs(cum_r * n_batch - cum_b * n_ref) AS diff_num FROM cw),
       |top AS (SELECT * FROM dd ORDER BY diff_num DESC, bucket ASC LIMIT 1)
       |SELECT n_ref, n_batch, CAST(diff_num AS BIGINT) AS ks_num,
       |  n_ref * n_batch AS ks_den,
       |  CASE WHEN n_ref = 0 OR n_batch = 0 THEN NULL
       |    ELSE CAST(diff_num AS DOUBLE)
       |      / CAST(n_ref * n_batch AS DOUBLE) END AS d,
       |  bucket AS at_bucket,
       |  diff_num * 10 > 1 * (n_ref * n_batch) AS drift
       |FROM top""".stripMargin)

  /** Time-travel KS drift ([[graft.ops.Stats.ksDriftFromStoreBefore]]):
    * the same monitor as [[qKsDriftStored]] but graded against the
    * store STRICTLY BEFORE tag `b1` — the replay-stable read the
    * streaming twin ([[graft.streaming.KsDriftStream]]) uses so a
    * crash-and-replay never grades a batch against itself. The oracle
    * replays only the first slice as reference. */
  val qKsDriftAsof: Q = "q_ks_drift_asof" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val store = codebookPath(d, "ks_ref_hist")
      (0 to 1).foreach { k =>
        graft.ops.Quantiles.storeAppend(
          docs.filter(col("doc_id") % 3 === k)
            .select(Text.tokenCount(col("text")).cast("long").as("v")),
          store, s"b$k", "v", 8L)
      }
      val batch = docs.filter(col("lang") === "zh")
        .select(Text.tokenCount(col("text")).cast("long").as("v"))
      graft.ops.Stats.ksDriftFromStoreBefore(s, store, "b1", batch,
        "v", 8L, 1L, 10L)
    },
    s"""WITH ref AS (SELECT CAST(len($TOKS) AS BIGINT) // 8 AS bucket,
       |    CAST(count(*) AS BIGINT) AS cr
       |  FROM documents WHERE doc_id % 3 = 0 GROUP BY 1),
       |bt AS (SELECT CAST(len($TOKS) AS BIGINT) // 8 AS bucket,
       |    CAST(count(*) AS BIGINT) AS cb
       |  FROM documents WHERE lang = 'zh' GROUP BY 1),
       |j AS (SELECT COALESCE(ref.bucket, bt.bucket) AS bucket,
       |    COALESCE(cr, 0) AS cr, COALESCE(cb, 0) AS cb
       |  FROM ref FULL OUTER JOIN bt ON ref.bucket = bt.bucket),
       |cw AS (SELECT bucket,
       |    CAST(sum(cr) OVER (ORDER BY bucket) AS BIGINT) AS cum_r,
       |    CAST(sum(cb) OVER (ORDER BY bucket) AS BIGINT) AS cum_b,
       |    CAST(sum(cr) OVER () AS BIGINT) AS n_ref,
       |    CAST(sum(cb) OVER () AS BIGINT) AS n_batch
       |  FROM j),
       |dd AS (SELECT bucket, n_ref, n_batch,
       |    abs(cum_r * n_batch - cum_b * n_ref) AS diff_num FROM cw),
       |top AS (SELECT * FROM dd ORDER BY diff_num DESC, bucket ASC LIMIT 1)
       |SELECT n_ref, n_batch, CAST(diff_num AS BIGINT) AS ks_num,
       |  n_ref * n_batch AS ks_den,
       |  CASE WHEN n_ref = 0 OR n_batch = 0 THEN NULL
       |    ELSE CAST(diff_num AS DOUBLE)
       |      / CAST(n_ref * n_batch AS DOUBLE) END AS d,
       |  bucket AS at_bucket,
       |  diff_num * 10 > 1 * (n_ref * n_batch) AS drift
       |FROM top""".stripMargin)

  /** Wilcoxon signed-rank ([[graft.ops.Stats.wilcoxonSignedRank]]):
    * paired per-user activity on even vs odd days — the within-unit
    * pairing removes the between-user variance an unpaired rank-sum
    * would drown in. Doubled |d| midranks exact; zeros dropped and
    * counted. */
  val qWilcoxon: Q = "q_wilcoxon" -> (
    (s: SparkSession, d: String) => {
      val u = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(sum(when(expr("(ts_us div 86400000000) % 2") === 0, 1L)
            .otherwise(0L)).cast("long").as("x_even"),
          sum(when(expr("(ts_us div 86400000000) % 2") === 1, 1L)
            .otherwise(0L)).cast("long").as("y_odd"))
      graft.ops.Stats.wilcoxonSignedRank(u, "x_even", "y_odd")
    },
    s"""WITH $EV,
       |u AS (SELECT user_id,
       |    CAST(sum(CASE WHEN (ts_us // 86400000000) % 2 = 0 THEN 1 ELSE 0
       |      END) AS BIGINT) AS x,
       |    CAST(sum(CASE WHEN (ts_us // 86400000000) % 2 = 1 THEN 1 ELSE 0
       |      END) AS BIGINT) AS y
       |  FROM ev GROUP BY 1),
       |dd AS (SELECT y - x AS dv FROM u),
       |zz AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       |    CAST(sum(CASE WHEN dv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
       |  FROM dd),
       |nz AS (SELECT abs(dv) AS v, CASE WHEN dv > 0 THEN 1 ELSE 0 END AS a
       |  FROM dd WHERE dv <> 0),
       |pc AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt,
       |    CAST(sum(a) AS BIGINT) AS cnt_a FROM nz GROUP BY v),
       |cw AS (SELECT v, cnt, cnt_a,
       |    CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum,
       |    CAST(sum(cnt) OVER () AS BIGINT) AS n FROM pc),
       |ag AS (SELECT COALESCE(max(n), 0) AS n_r,
       |    COALESCE(CAST(sum(CAST(cnt_a AS DECIMAL(19,0))
       |      * CAST(2 * cum - cnt + 1 AS DECIMAL(19,0))) AS DECIMAL(38,0)),
       |      CAST(0 AS DECIMAL(38,0))) AS w2_pos,
       |    COALESCE(CAST(sum(CAST(cnt AS DECIMAL(19,0))
       |        * CAST(cnt AS DECIMAL(19,0)) * CAST(cnt AS DECIMAL(19,0))
       |        - CAST(cnt AS DECIMAL(19,0))) AS DECIMAL(38,0)),
       |      CAST(0 AS DECIMAL(38,0))) AS tie_t
       |  FROM cw),
       |st AS (SELECT n_pairs, n_zero, n_r, w2_pos, tie_t,
       |    (n_r * (n_r + 1)) // 2 AS mean2,
       |    CAST(CAST(2 AS DECIMAL(19,0))
       |      * CAST(CAST(CAST(n_r AS DECIMAL(19,0))
       |          * CAST(n_r + 1 AS DECIMAL(19,0)) AS DECIMAL(38,0))
       |        * CAST(2 * n_r + 1 AS DECIMAL(19,0)) AS DECIMAL(38,0))
       |      - tie_t AS DECIMAL(38,0)) AS v_num
       |  FROM zz, ag)
       |SELECT n_pairs, n_zero, n_r, CAST(w2_pos AS BIGINT) AS w2_pos,
       |  CAST(w2_pos AS DOUBLE) / 2.0 AS w_pos,
       |  CAST(tie_t AS BIGINT) AS tie_t,
       |  CASE WHEN n_r = 0 OR v_num = 0 THEN NULL
       |    ELSE (CAST(w2_pos AS DOUBLE) - CAST(mean2 AS DOUBLE))
       |      / sqrt(CAST(v_num AS DOUBLE) / 12.0) END AS z
       |FROM st""".stripMargin)

  /** McNemar's paired classifier comparison
    * ([[graft.ops.Stats.mcnemar]]): does the lang-ID heuristic differ
    * from the always-'en' majority baseline, graded on the SAME docs?
    * Only the discordant counts matter — the upgrade-gate card. */
  val qMcnemar: Q = "q_mcnemar" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Stats.mcnemar(
        Tables.documents(s, d)
          .select(col("lang"), Text.langId(col("text")).as("lang_pred")),
        "lang_pred = lang", "lang = 'en'"),
    {
      def hits(lex: Seq[String]) = {
        val lst = lex.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter($TOKS, t -> list_contains($lst, t)))"
      }
      val de = hits(Seq("der", "die", "das", "und", "ein", "ist", "zu"))
      val en = hits(Seq("the", "a", "of", "and", "to", "in", "is"))
      val es = hits(Seq("el", "la", "de", "y", "un", "una", "es"))
      val fr = hits(Seq("le", "la", "de", "et", "un", "une", "est"))
      s"""WITH h AS (SELECT lang, $de AS h_de, $en AS h_en, $es AS h_es,
         |    $fr AS h_fr FROM documents),
         |pred AS (SELECT lang AS ka, CASE
         |    WHEN h_de > 0 AND h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
         |    WHEN h_en > 0 AND h_en >= h_es AND h_en >= h_fr THEN 'en'
         |    WHEN h_es > 0 AND h_es >= h_fr THEN 'es'
         |    WHEN h_fr > 0 THEN 'fr'
         |    ELSE 'und' END AS kp
         |  FROM h),
         |f AS (SELECT (kp = ka) AS c1, (ka = 'en') AS c2 FROM pred),
         |ct AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN c1 AND NOT c2 THEN 1 ELSE 0 END) AS BIGINT) AS b,
         |    CAST(sum(CASE WHEN NOT c1 AND c2 THEN 1 ELSE 0 END) AS BIGINT) AS c
         |  FROM f)
         |SELECT n, b, c, (b - c) * (b - c) AS mcnemar_num,
         |  b + c AS mcnemar_den,
         |  CASE WHEN b + c = 0 THEN NULL
         |    ELSE CAST((b - c) * (b - c) AS DOUBLE)
         |      / CAST(b + c AS DOUBLE) END AS mcnemar
         |FROM ct""".stripMargin
    })

  /** Fleiss' kappa ([[graft.ops.Stats.fleissKappa]]) over a
    * three-rater panel (the full lang-ID chain, an English-only
    * variant, a no-English variant) voting per doc — the
    * multi-annotator agreement card a labeling pipeline reads before
    * trusting majority vote. All-integer but the final division. */
  val qFleissKappa: Q = "q_fleiss_kappa" -> (
    (s: SparkSession, d: String) => {
      val t = col("text")
      def h(lex: Seq[String]) = Text.stopwordHits(t, lex)
      val hEn = h(Seq("the", "a", "of", "and", "to", "in", "is"))
      val hEs = h(Seq("el", "la", "de", "y", "un", "una", "es"))
      val hFr = h(Seq("le", "la", "de", "et", "un", "une", "est"))
      val hDe = h(Seq("der", "die", "das", "und", "ein", "ist", "zu"))
      val v1 = Text.langId(t)
      val v2 = when(hEn > 0, lit("en")).otherwise(lit("und"))
      val v3 = when(hDe > 0 && hDe >= hEs && hDe >= hFr, lit("de"))
        .when(hEs > 0 && hEs >= hFr, lit("es"))
        .when(hFr > 0, lit("fr")).otherwise(lit("und"))
      val votes = Tables.documents(s, d)
        .select(col("doc_id"), explode(array(v1, v2, v3)).as("vote"))
      graft.ops.Stats.fleissKappa(votes, "doc_id", "vote", raters = 3)
    },
    {
      def hits(lex: Seq[String]) = {
        val lst = lex.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter($TOKS, t -> list_contains($lst, t)))"
      }
      val de = hits(Seq("der", "die", "das", "und", "ein", "ist", "zu"))
      val en = hits(Seq("the", "a", "of", "and", "to", "in", "is"))
      val es = hits(Seq("el", "la", "de", "y", "un", "una", "es"))
      val fr = hits(Seq("le", "la", "de", "et", "un", "une", "est"))
      s"""WITH h AS (SELECT doc_id, $de AS h_de, $en AS h_en, $es AS h_es,
         |    $fr AS h_fr FROM documents),
         |votes AS (
         |  SELECT doc_id, CASE
         |    WHEN h_de > 0 AND h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
         |    WHEN h_en > 0 AND h_en >= h_es AND h_en >= h_fr THEN 'en'
         |    WHEN h_es > 0 AND h_es >= h_fr THEN 'es'
         |    WHEN h_fr > 0 THEN 'fr'
         |    ELSE 'und' END AS vote FROM h
         |  UNION ALL SELECT doc_id,
         |    CASE WHEN h_en > 0 THEN 'en' ELSE 'und' END FROM h
         |  UNION ALL SELECT doc_id, CASE
         |    WHEN h_de > 0 AND h_de >= h_es AND h_de >= h_fr THEN 'de'
         |    WHEN h_es > 0 AND h_es >= h_fr THEN 'es'
         |    WHEN h_fr > 0 THEN 'fr'
         |    ELSE 'und' END FROM h),
         |cells AS (SELECT doc_id AS item, vote AS cat,
         |    CAST(count(*) AS BIGINT) AS nij FROM votes GROUP BY 1, 2),
         |pi AS (SELECT item, CAST(sum(nij) AS BIGINT) AS votes_n,
         |    CAST(sum(CAST(nij AS DECIMAL(19,0)) * CAST(nij AS DECIMAL(19,0)))
         |      AS DECIMAL(38,0)) AS sq
         |  FROM cells GROUP BY 1),
         |it AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
         |    COALESCE(CAST(sum(CASE WHEN votes_n <> 3 THEN 1 ELSE 0 END)
         |      AS BIGINT), 0) AS bad_items,
         |    COALESCE(CAST(sum(sq) AS DECIMAL(38,0)),
         |      CAST(0 AS DECIMAL(38,0))) AS s2
         |  FROM pi),
         |pcat AS (SELECT COALESCE(CAST(sum(CAST(tj AS DECIMAL(19,0))
         |      * CAST(tj AS DECIMAL(19,0))) AS DECIMAL(38,0)),
         |    CAST(0 AS DECIMAL(38,0))) AS pe_num
         |  FROM (SELECT cat, CAST(sum(nij) AS BIGINT) AS tj
         |    FROM cells GROUP BY 1)),
         |st AS (SELECT n_items, bad_items, s2, pe_num,
         |    CAST(CAST(n_items AS DECIMAL(19,0)) * CAST(3 AS DECIMAL(19,0))
         |      AS DECIMAL(38,0)) AS nr
         |  FROM it, pcat),
         |st2 AS (SELECT n_items, bad_items, s2, pe_num,
         |    CAST(nr * nr AS DECIMAL(38,0)) AS nr2,
         |    CAST(s2 - nr AS DECIMAL(38,0)) AS pbar_num,
         |    CAST(nr * CAST(2 AS DECIMAL(19,0)) AS DECIMAL(38,0)) AS pbar_den
         |  FROM st)
         |SELECT n_items, bad_items, CAST(s2 AS BIGINT) AS s2,
         |  CAST(pe_num AS BIGINT) AS pe_num,
         |  CAST(CAST(pbar_num * nr2 AS DECIMAL(38,0))
         |    - CAST(pbar_den * pe_num AS DECIMAL(38,0)) AS BIGINT) AS kappa_num,
         |  CAST(CAST(pbar_den * CAST(nr2 - pe_num AS DECIMAL(38,0))
         |    AS DECIMAL(38,0)) AS BIGINT) AS kappa_den,
         |  CASE WHEN CAST(pbar_den * CAST(nr2 - pe_num AS DECIMAL(38,0))
         |      AS DECIMAL(38,0)) = 0 THEN NULL
         |    ELSE CAST(CAST(pbar_num * nr2 AS DECIMAL(38,0))
         |        - CAST(pbar_den * pe_num AS DECIMAL(38,0)) AS DOUBLE)
         |      / CAST(CAST(pbar_den * CAST(nr2 - pe_num AS DECIMAL(38,0))
         |        AS DECIMAL(38,0)) AS DOUBLE) END AS kappa
         |FROM st2""".stripMargin
    })

  /** Mood's median test as a COMPOSITION: the pooled median from the
    * exact mergeable histogram ([[graft.ops.Quantiles.quantiles]],
    * width-1 buckets = exact value), then the 2×2 chi-square of
    * (arm × above-median) — two existing exact primitives chained;
    * the oracle replays the median AND the table. */
  val qMedianTest: Q = "q_median_test" -> (
    (s: SparkSession, d: String) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "view"))
        .select((col("value").cast("decimal(18,2)") * 100).cast("long")
            .as("cents"),
          col("event_type"))
      val med = graft.ops.Quantiles.quantiles(
          graft.ops.Quantiles.histogram(ev, "cents", 1L),
          Seq(("p50", 1, 2)), 1L)
        .select(col("lo")).collect().head.getLong(0)
      graft.ops.Stats.chi2x2(ev, "event_type = 'purchase'",
        s"cents >= ${med}L")
    },
    s"""WITH $EV,
       |src AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
       |    event_type FROM ev WHERE event_type IN ('purchase', 'view')),
       |${graft.ops.Quantiles.oracleCtes("src", Seq(("p50", 1, 2)), 1L)},
       |f AS (SELECT (event_type = 'purchase') AS a,
       |    (v >= (SELECT lo FROM hq)) AS b FROM src),
       |ct AS (SELECT
       |    CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS o11,
       |    CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS o10,
       |    CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS o01,
       |    CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS o00
       |  FROM f),
       |st AS (SELECT o11, o10, o01, o00, o11 + o10 + o01 + o00 AS n,
       |    CAST(CAST(o11 AS DECIMAL(19,0)) * CAST(o00 AS DECIMAL(19,0))
       |      - CAST(o10 AS DECIMAL(19,0)) * CAST(o01 AS DECIMAL(19,0))
       |      AS DECIMAL(38,0)) AS det,
       |    o11 + o10 AS r1, o01 + o00 AS r0, o11 + o01 AS c1, o10 + o00 AS c0
       |  FROM ct)
       |SELECT n, o11, o10, o01, o00, CAST(det AS BIGINT) AS det,
       |  CASE WHEN r1 = 0 OR r0 = 0 OR c1 = 0 OR c0 = 0 THEN NULL
       |    ELSE CAST(CAST(CAST(n AS DECIMAL(19,0)) * CAST(det * det
       |        AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS DOUBLE)
       |      / CAST(CAST(CAST(CAST(r1 AS DECIMAL(19,0)) * CAST(r0 AS DECIMAL(19,0))
       |          AS DECIMAL(38,0)) * CAST(CAST(c1 AS DECIMAL(19,0))
       |          * CAST(c0 AS DECIMAL(19,0)) AS DECIMAL(38,0))
       |        AS DECIMAL(38,0)) AS DOUBLE) END AS chi2,
       |  CASE WHEN r1 = 0 OR r0 = 0 OR c1 = 0 OR c0 = 0 THEN NULL
       |    ELSE CAST(det AS DOUBLE)
       |      / (sqrt(CAST(r1 * r0 AS DOUBLE)) * sqrt(CAST(c1 * c0 AS DOUBLE)))
       |    END AS phi
       |FROM st""".stripMargin)

  /** Poisson-bootstrap uncertainty ([[graft.ops.Stats.poissonBootstrap]]):
    * standard error of the corpus value total (and mean) under
    * hash-deterministic resampling — per-row Poisson(1) multiplicities
    * need no global n, so the card runs on a stream or a 100 TB scan
    * with zero coordination; the R-fold explode collapses map-side to
    * R rows per partition. The oracle replays every draw. */
  val qBootstrapSe: Q = "q_bootstrap_se" -> (
    (s: SparkSession, d: String) => {
      val ev = Tables.events(s, d)
        .select(col("event_id"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      graft.ops.Stats.poissonBootstrap(ev, "event_id", "cents",
        replicates = 64, salt = "boot13")
    },
    {
      val mSql = graft.ops.Stats.PoissonThresholds
        .map(t => s"(CASE WHEN u >= $t THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $EV,
         |base AS (SELECT CAST(event_id AS VARCHAR) AS id,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM ev),
         |ov AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(v) AS BIGINT) AS total FROM base),
         |rep AS (SELECT id, v, unnest(range(64)) AS r FROM base),
         |uu AS (SELECT r, v, CAST('0x' || substr(md5(id || '_'
         |    || CAST(r AS VARCHAR) || 'boot13'), 1, 7) AS BIGINT) AS u
         |  FROM rep),
         |mm AS (SELECT r, CAST(($mSql) AS BIGINT) * v AS mv FROM uu),
         |tt AS (SELECT r, CAST(sum(mv) AS BIGINT) AS t FROM mm GROUP BY r),
         |sp AS (SELECT CAST(count(*) AS BIGINT) AS r_n,
         |    CAST(sum(CAST(t AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS st,
         |    CAST(sum(CAST(t AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0)))
         |      AS DECIMAL(38,0)) AS st2
         |  FROM tt),
         |vv AS (SELECT r_n, st, st2,
         |    CAST(CAST(CAST(r_n AS DECIMAL(19,0)) * st2 AS DECIMAL(38,0))
         |      - CAST(st * st AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS v_num,
         |    r_n * (r_n - 1) AS v_den
         |  FROM sp)
         |SELECT r_n AS r, n, total,
         |  CAST(st AS DOUBLE) / CAST(r_n AS DOUBLE) AS boot_mean_total,
         |  CASE WHEN r_n < 2 THEN NULL
         |    ELSE sqrt(CAST(v_num AS DOUBLE) / CAST(v_den AS DOUBLE))
         |    END AS se_total,
         |  CASE WHEN r_n < 2 OR n = 0 THEN NULL
         |    ELSE sqrt(CAST(v_num AS DOUBLE) / CAST(v_den AS DOUBLE))
         |      / CAST(n AS DOUBLE) END AS se_mean
         |FROM ov, vv""".stripMargin
    })

  /** Leave-one-source-out influence
    * ([[graft.ops.Profile.leaveOneOutInfluence]]): which source moves
    * the corpus mean token count most — the jackknife-style
    * data-attribution card a domain-cap decision reads. Every
    * leave-one-out mean is one exact division. */
  val qLooInfluence: Q = "q_loo_influence" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Profile.leaveOneOutInfluence(
        Tables.documents(s, d)
          .select(col("source"),
            Text.tokenCount(col("text")).cast("long").as("toks")),
        "source", "toks")
        .orderBy(col("source")),
    s"""WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_g,
       |    CAST(sum(len($TOKS)) AS BIGINT) AS t_g
       |  FROM documents GROUP BY source),
       |ov AS (SELECT CAST(sum(n_g) AS BIGINT) AS n_all,
       |    CAST(sum(t_g) AS BIGINT) AS t_all FROM g)
       |SELECT source, n_g, t_g, t_all - t_g AS loo_num,
       |  n_all - n_g AS loo_den,
       |  CASE WHEN n_all = n_g THEN NULL
       |    ELSE CAST(t_all - t_g AS DOUBLE) / CAST(n_all - n_g AS DOUBLE)
       |    END AS loo_mean,
       |  CASE WHEN n_all = n_g OR n_all = 0 THEN NULL
       |    ELSE CAST(t_all - t_g AS DOUBLE) / CAST(n_all - n_g AS DOUBLE)
       |      - CAST(t_all AS DOUBLE) / CAST(n_all AS DOUBLE) END AS delta
       |FROM g, ov ORDER BY source""".stripMargin)

  /** CUPED-adjusted A/B readout ([[graft.ops.Abtest.cupedReadout]]):
    * per-user late-window spend adjusted by early-window spend (the
    * standard pre-experiment covariate). The lift needs no per-row
    * adjusted values — algebra reduces it to exact moment sums, so
    * the card is engine-replayable where a per-row adjusted fold is
    * order-dependent. Run without a real treatment this is the
    * CUPED A/A instrument check. */
  val qCuped: Q = "q_cuped" -> (
    (s: SparkSession, d: String) => {
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      val ev = Tables.events(s, d)
        .select(col("user_id"),
          when(expr("(ts_us div 86400000000) % 2") === 1, cents)
            .otherwise(0L).as("y_late"),
          when(expr("(ts_us div 86400000000) % 2") === 0, cents)
            .otherwise(0L).as("x_early"))
      graft.ops.Abtest.cupedReadout(ev, "user_id", "y_late", "x_early",
        salt = "cuped13")
    },
    s"""WITH $EV,
       |un AS (SELECT user_id AS unit,
       |    CAST(sum(CASE WHEN (ts_us // 86400000000) % 2 = 1
       |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
       |      ELSE 0 END) AS BIGINT) AS y,
       |    CAST(sum(CASE WHEN (ts_us // 86400000000) % 2 = 0
       |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
       |      ELSE 0 END) AS BIGINT) AS x
       |  FROM ev GROUP BY 1),
       |va AS (SELECT y, x, CAST('0x' || substr(md5(CAST(unit AS VARCHAR)
       |    || 'cuped13'), 1, 7) AS BIGINT) % 2 AS variant FROM un),
       |ag AS (SELECT
       |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |    CAST(sum(CASE WHEN variant = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_a,
       |    CAST(sum(CASE WHEN variant = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_b,
       |    CAST(sum(CASE WHEN variant = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_a,
       |    CAST(sum(CASE WHEN variant = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_b,
       |    CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
       |      AS DECIMAL(38,0)) AS sxx,
       |    CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
       |      AS DECIMAL(38,0)) AS sxy,
       |    CAST(sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
       |      AS DECIMAL(38,0)) AS syy
       |  FROM va),
       |st AS (SELECT *, n_a + n_b AS n,
       |    CAST(sx_a + sx_b AS DECIMAL(19,0)) AS sx,
       |    CAST(sy_a + sy_b AS DECIMAL(19,0)) AS sy FROM ag),
       |st2 AS (SELECT *,
       |    CAST(CAST(n AS DECIMAL(19,0)) * sxy - CAST(sx * sy AS DECIMAL(38,0))
       |      AS DECIMAL(38,0)) AS th_num,
       |    CAST(CAST(n AS DECIMAL(19,0)) * sxx - CAST(sx * sx AS DECIMAL(38,0))
       |      AS DECIMAL(38,0)) AS th_den,
       |    CAST(CAST(n AS DECIMAL(19,0)) * syy - CAST(sy * sy AS DECIMAL(38,0))
       |      AS DECIMAL(38,0)) AS syc
       |  FROM st)
       |SELECT n_a, n_b, sy_a, sy_b,
       |  CASE WHEN n_a = 0 OR n_b = 0 OR th_den = 0 THEN NULL
       |    ELSE CAST(th_num AS DOUBLE) / CAST(th_den AS DOUBLE) END AS theta,
       |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
       |    ELSE CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)
       |      - CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) END AS lift_raw,
       |  CASE WHEN n_a = 0 OR n_b = 0 OR th_den = 0 THEN NULL
       |    ELSE CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)
       |      - CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
       |      - CAST(th_num AS DOUBLE) / CAST(th_den AS DOUBLE)
       |        * (CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE)
       |          - CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE))
       |    END AS lift_cuped,
       |  CASE WHEN n_a = 0 OR n_b = 0 OR th_den = 0 OR syc = 0 THEN NULL
       |    ELSE (CAST(th_num AS DOUBLE) * CAST(th_num AS DOUBLE))
       |      / (CAST(th_den AS DOUBLE) * CAST(syc AS DOUBLE))
       |    END AS var_reduction
       |FROM st2""".stripMargin)

  /** Per-category specific agreement
    * ([[graft.ops.Stats.specificAgreement]]) over the same 3-rater
    * panel as [[qFleissKappa]] — WHICH label do the raters actually
    * disagree on (the drill-down the single kappa number summarizes
    * away). */
  val qSpecificAgreement: Q = "q_specific_agreement" -> (
    (s: SparkSession, d: String) => {
      val t = col("text")
      def h(lex: Seq[String]) = Text.stopwordHits(t, lex)
      val hEn = h(Seq("the", "a", "of", "and", "to", "in", "is"))
      val hEs = h(Seq("el", "la", "de", "y", "un", "una", "es"))
      val hFr = h(Seq("le", "la", "de", "et", "un", "une", "est"))
      val hDe = h(Seq("der", "die", "das", "und", "ein", "ist", "zu"))
      val v1 = Text.langId(t)
      val v2 = when(hEn > 0, lit("en")).otherwise(lit("und"))
      val v3 = when(hDe > 0 && hDe >= hEs && hDe >= hFr, lit("de"))
        .when(hEs > 0 && hEs >= hFr, lit("es"))
        .when(hFr > 0, lit("fr")).otherwise(lit("und"))
      val votes = Tables.documents(s, d)
        .select(col("doc_id"), explode(array(v1, v2, v3)).as("vote"))
      graft.ops.Stats.specificAgreement(votes, "doc_id", "vote", raters = 3)
        .orderBy(col("cat"))
    },
    {
      def hits(lex: Seq[String]) = {
        val lst = lex.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter($TOKS, t -> list_contains($lst, t)))"
      }
      val de = hits(Seq("der", "die", "das", "und", "ein", "ist", "zu"))
      val en = hits(Seq("the", "a", "of", "and", "to", "in", "is"))
      val es = hits(Seq("el", "la", "de", "y", "un", "una", "es"))
      val fr = hits(Seq("le", "la", "de", "et", "un", "une", "est"))
      s"""WITH h AS (SELECT doc_id, $de AS h_de, $en AS h_en, $es AS h_es,
         |    $fr AS h_fr FROM documents),
         |votes AS (
         |  SELECT doc_id, CASE
         |    WHEN h_de > 0 AND h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
         |    WHEN h_en > 0 AND h_en >= h_es AND h_en >= h_fr THEN 'en'
         |    WHEN h_es > 0 AND h_es >= h_fr THEN 'es'
         |    WHEN h_fr > 0 THEN 'fr'
         |    ELSE 'und' END AS vote FROM h
         |  UNION ALL SELECT doc_id,
         |    CASE WHEN h_en > 0 THEN 'en' ELSE 'und' END FROM h
         |  UNION ALL SELECT doc_id, CASE
         |    WHEN h_de > 0 AND h_de >= h_es AND h_de >= h_fr THEN 'de'
         |    WHEN h_es > 0 AND h_es >= h_fr THEN 'es'
         |    WHEN h_fr > 0 THEN 'fr'
         |    ELSE 'und' END FROM h),
         |cells AS (SELECT doc_id AS item, vote AS cat,
         |    CAST(count(*) AS BIGINT) AS nij FROM votes GROUP BY 1, 2)
         |SELECT cat, CAST(sum(nij) AS BIGINT) AS t_j,
         |  CAST(sum(nij * (nij - 1)) AS BIGINT) AS s_num,
         |  2 * CAST(sum(nij) AS BIGINT) AS s_den,
         |  CASE WHEN CAST(sum(nij) AS BIGINT) = 0 THEN NULL
         |    ELSE CAST(sum(nij * (nij - 1)) AS DOUBLE)
         |      / CAST(2 * CAST(sum(nij) AS BIGINT) AS DOUBLE)
         |    END AS specific_agreement
         |FROM cells GROUP BY cat ORDER BY cat""".stripMargin
    })

  /** Benford first-digit audit ([[graft.ops.Stats.benfordDigits]]) of
    * the event value column — the fabricated/corrupted-feed screen:
    * per digit, observed vs the dyadic-exact Benford expectation with
    * an all-integer deviation. */
  val qBenford: Q = "q_benford" -> (
    (s: SparkSession, d: String) => {
      val ev = Tables.events(s, d)
        .select((col("value").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      graft.ops.Stats.benfordDigits(ev, "cents").orderBy(col("digit"))
    },
    {
      val p20 = graft.ops.Stats.Benford20.mkString("[", ", ", "]")
      s"""WITH $EV,
         |v AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
         |  FROM ev),
         |tot AS (SELECT
         |    CAST(sum(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN v > 0 THEN 0 ELSE 1 END) AS BIGINT)
         |      AS n_excluded
         |  FROM v),
         |cnt AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit,
         |    CAST(count(*) AS BIGINT) AS obs
         |  FROM v WHERE v > 0 GROUP BY 1),
         |dig AS (SELECT CAST(unnest(range(1, 10)) AS INT) AS digit,
         |    CAST(unnest($p20) AS BIGINT) AS p20)
         |SELECT digit, COALESCE(obs, 0) AS obs, n, n_excluded,
         |  n * p20 AS exp_num,
         |  abs(COALESCE(obs, 0) * 1048576 - n * p20) AS dev_num,
         |  CASE WHEN n = 0 THEN NULL
         |    ELSE CAST(COALESCE(obs, 0) AS DOUBLE) / CAST(n AS DOUBLE)
         |    END AS share,
         |  CAST(p20 AS DOUBLE) / 1048576.0 AS benford_p
         |FROM dig LEFT JOIN cnt USING (digit) CROSS JOIN tot
         |ORDER BY digit""".stripMargin
    })

  /** Minimum-detectable-effect planner ([[graft.ops.Abtest.mdeCard]]):
    * with this traffic and base rate, what lift could the z test even
    * see — the "is the experiment worth launching" card; deterministic
    * doubles over exact counts (the z quantiles are shared literal
    * constants, no erf anywhere). */
  val qMde: Q = "q_mde" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Abtest.mdeCard(Tables.events(s, d), "user_id",
        "event_type = 'purchase' AND value >= 100.0", salt = "exp13"),
    s"""WITH $EV,
       |un AS (SELECT user_id AS unit,
       |    max(CASE WHEN event_type = 'purchase' AND value >= 100.0
       |      THEN 1 ELSE 0 END) AS converted
       |  FROM ev GROUP BY 1),
       |va AS (SELECT converted,
       |    CAST('0x' || substr(md5(CAST(unit AS VARCHAR) || 'exp13'), 1, 7)
       |      AS BIGINT) % 2 AS variant FROM un),
       |ag AS (SELECT
       |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |    CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END)
       |      AS BIGINT) AS conv_a,
       |    CAST(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END)
       |      AS BIGINT) AS conv_b
       |  FROM va)
       |SELECT n_a, n_b, conv_a, conv_b,
       |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
       |    ELSE CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
       |    END AS p_pool,
       |  CASE WHEN n_a = 0 OR n_b = 0 OR conv_a + conv_b = 0
       |      OR conv_a + conv_b = n_a + n_b THEN NULL
       |    ELSE (1.959964 + 0.841621)
       |      * sqrt(CAST(conv_a + conv_b AS DOUBLE)
       |          / CAST(n_a + n_b AS DOUBLE)
       |        * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
       |          / CAST(n_a + n_b AS DOUBLE))
       |        * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
       |    END AS mde_abs
       |FROM ag""".stripMargin)

  /** Ratio-metric A/B readout ([[graft.ops.Abtest.ratioReadout]]):
    * purchase cents PER VIEW with the delta-method variance — the
    * estimator for metrics whose analysis unit (views) differs from
    * the randomization unit (users); a naive per-user ratio mean is
    * Jensen-biased and explodes on zero-view users. */
  val qAbRatio: Q = "q_ab_ratio" -> (
    (s: SparkSession, d: String) => {
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      val ev = Tables.events(s, d).select(col("user_id"),
        when(col("event_type") === "view", 1L).otherwise(0L).as("views"),
        when(col("event_type") === "purchase", cents).otherwise(0L)
          .as("purch"))
      graft.ops.Abtest.ratioReadout(ev, "user_id", "views", "purch",
        salt = "exp13")
    },
    {
      def armCte(v: Int, s: String) =
        s"""a$s AS (SELECT CAST(count(*) AS BIGINT) AS n_$s,
           |    COALESCE(CAST(sum(x) AS BIGINT), 0) AS sx_$s,
           |    COALESCE(CAST(sum(y) AS BIGINT), 0) AS sy_$s,
           |    COALESCE(CAST(sum(CAST(x AS DECIMAL(19,0))
           |      * CAST(x AS DECIMAL(19,0))) AS DECIMAL(38,0)),
           |      CAST(0 AS DECIMAL(38,0))) AS sxx_$s,
           |    COALESCE(CAST(sum(CAST(x AS DECIMAL(19,0))
           |      * CAST(y AS DECIMAL(19,0))) AS DECIMAL(38,0)),
           |      CAST(0 AS DECIMAL(38,0))) AS sxy_$s,
           |    COALESCE(CAST(sum(CAST(y AS DECIMAL(19,0))
           |      * CAST(y AS DECIMAL(19,0))) AS DECIMAL(38,0)),
           |      CAST(0 AS DECIMAL(38,0))) AS syy_$s
           |  FROM va WHERE variant = $v)""".stripMargin
      def cm(s: String, sab: String, sa: String, sb: String) =
        s"""CAST(CAST(CAST(n_$s AS DECIMAL(19,0)) * $sab
           | - CAST(CAST($sa AS DECIMAL(19,0)) * CAST($sb AS DECIMAL(19,0))
           |   AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS DOUBLE)
           | / (CAST(n_$s AS DOUBLE) * CAST(n_$s - 1 AS DOUBLE))"""
          .stripMargin.replace("\n", "")
      def pieceCte(s: String) =
        s"""p$s AS (SELECT n_$s, sx_$s, sy_$s,
           |    CAST(sy_$s AS DOUBLE) / CAST(sx_$s AS DOUBLE) AS r_$s,
           |    ${cm(s, s"syy_$s", s"sy_$s", s"sy_$s")} AS cyy_$s,
           |    ${cm(s, s"sxy_$s", s"sx_$s", s"sy_$s")} AS cxy_$s,
           |    ${cm(s, s"sxx_$s", s"sx_$s", s"sx_$s")} AS cxx_$s,
           |    CAST(sx_$s AS DOUBLE) / CAST(n_$s AS DOUBLE) AS xb_$s
           |  FROM a$s),
           |q$s AS (SELECT *,
           |    (cyy_$s - 2.0 * r_$s * cxy_$s + r_$s * r_$s * cxx_$s)
           |      / (CAST(n_$s AS DOUBLE) * xb_$s * xb_$s) AS v_$s
           |  FROM p$s)""".stripMargin
      s"""WITH $EV,
         |un AS (SELECT user_id AS unit,
         |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS x,
         |    CAST(sum(CASE WHEN event_type = 'purchase'
         |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
         |      ELSE 0 END) AS BIGINT) AS y
         |  FROM ev GROUP BY 1),
         |va AS (SELECT x, y, CAST('0x' || substr(md5(CAST(unit AS VARCHAR)
         |    || 'exp13'), 1, 7) AS BIGINT) % 2 AS variant FROM un),
         |${armCte(0, "a")},
         |${armCte(1, "b")},
         |${pieceCte("a")},
         |${pieceCte("b")}
         |SELECT n_a, n_b, sx_a, sy_a, sx_b, sy_b,
         |  CASE WHEN n_a < 2 OR n_b < 2 OR sx_a = 0 OR sx_b = 0 THEN NULL
         |    ELSE r_a END AS ratio_a,
         |  CASE WHEN n_a < 2 OR n_b < 2 OR sx_a = 0 OR sx_b = 0 THEN NULL
         |    ELSE r_b END AS ratio_b,
         |  CASE WHEN n_a < 2 OR n_b < 2 OR sx_a = 0 OR sx_b = 0 THEN NULL
         |    ELSE r_b - r_a END AS diff,
         |  CASE WHEN n_a < 2 OR n_b < 2 OR sx_a = 0 OR sx_b = 0
         |      OR v_a + v_b <= 0.0 THEN NULL
         |    ELSE (r_b - r_a) / sqrt(v_a + v_b) END AS z
         |FROM qa, qb""".stripMargin
    })

  /** [[qBootstrapSe]] maintained through the ADDITIVE bootstrap store
    * ([[graft.ops.Stats.bootstrapStoreAppend]], two event slices):
    * replicate totals are sums of per-(id, replicate)-deterministic
    * terms, so per-batch totals ADD to exactly the one-shot totals
    * over the union — the oracle is the one-shot SQL verbatim, and
    * hash equality IS the additivity theorem. */
  val qBootstrapStored: Q = "q_bootstrap_stored" -> (
    (s: SparkSession, d: String) => {
      val store = codebookPath(d, "boot_store")
      val ev = Tables.events(s, d)
        .select(col("event_id"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      (0 to 1).foreach { k =>
        graft.ops.Stats.bootstrapStoreAppend(
          ev.filter(col("event_id") % 2 === k), store, s"b$k",
          "event_id", "cents", replicates = 64, salt = "boot13")
      }
      graft.ops.Stats.bootstrapFromStore(s, store)
    },
    {
      val mSql = graft.ops.Stats.PoissonThresholds
        .map(t => s"(CASE WHEN u >= $t THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $EV,
         |base AS (SELECT CAST(event_id AS VARCHAR) AS id,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM ev),
         |ov AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(v) AS BIGINT) AS total FROM base),
         |rep AS (SELECT id, v, unnest(range(64)) AS r FROM base),
         |uu AS (SELECT r, v, CAST('0x' || substr(md5(id || '_'
         |    || CAST(r AS VARCHAR) || 'boot13'), 1, 7) AS BIGINT) AS u
         |  FROM rep),
         |mm AS (SELECT r, CAST(($mSql) AS BIGINT) * v AS mv FROM uu),
         |tt AS (SELECT r, CAST(sum(mv) AS BIGINT) AS t FROM mm GROUP BY r),
         |sp AS (SELECT CAST(count(*) AS BIGINT) AS r_n,
         |    CAST(sum(CAST(t AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS st,
         |    CAST(sum(CAST(t AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0)))
         |      AS DECIMAL(38,0)) AS st2
         |  FROM tt),
         |vv AS (SELECT r_n, st, st2,
         |    CAST(CAST(CAST(r_n AS DECIMAL(19,0)) * st2 AS DECIMAL(38,0))
         |      - CAST(st * st AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS v_num,
         |    r_n * (r_n - 1) AS v_den
         |  FROM sp)
         |SELECT r_n AS r, n, total,
         |  CAST(st AS DOUBLE) / CAST(r_n AS DOUBLE) AS boot_mean_total,
         |  CASE WHEN r_n < 2 THEN NULL
         |    ELSE sqrt(CAST(v_num AS DOUBLE) / CAST(v_den AS DOUBLE))
         |    END AS se_total,
         |  CASE WHEN r_n < 2 OR n = 0 THEN NULL
         |    ELSE sqrt(CAST(v_num AS DOUBLE) / CAST(v_den AS DOUBLE))
         |      / CAST(n AS DOUBLE) END AS se_mean
         |FROM ov, vv""".stripMargin
    })

  /** GROUPED Mann–Whitney ([[graft.ops.Stats.mannWhitney]] with
    * groupCols): the purchase-vs-error shift PER DAY-OF-WEEK — the
    * partitioned form every per-segment monitor runs; windows
    * partition by the group, so each group's distinct-value pass is
    * independent. */
  val qMannWhitneyBy: Q = "q_mannwhitney_by" -> (
    (s: SparkSession, d: String) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "error"))
        .select(expr("(ts_us div 86400000000) % 7").as("dow"),
          (col("value").cast("decimal(18,2)") * 100).cast("long")
            .as("cents"),
          col("event_type"))
      graft.ops.Stats.mannWhitney(ev, Seq("dow"), "cents",
          "event_type = 'purchase'")
        .orderBy(col("dow"))
    },
    s"""WITH $EV,
       |f AS (SELECT (ts_us // 86400000000) % 7 AS dow,
       |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a
       |  FROM ev WHERE event_type IN ('purchase', 'error')),
       |pc AS (SELECT dow, v, CAST(count(*) AS BIGINT) AS cnt,
       |    CAST(sum(a) AS BIGINT) AS cnt_a FROM f GROUP BY dow, v),
       |cw AS (SELECT dow, v, cnt, cnt_a,
       |    CAST(sum(cnt) OVER (PARTITION BY dow ORDER BY v) AS BIGINT) AS cum,
       |    CAST(sum(cnt) OVER (PARTITION BY dow) AS BIGINT) AS n,
       |    CAST(sum(cnt_a) OVER (PARTITION BY dow) AS BIGINT) AS n_a
       |  FROM pc),
       |ag AS (SELECT dow, max(n) AS n, max(n_a) AS n_a,
       |    CAST(sum(CAST(cnt_a AS DECIMAL(19,0))
       |      * CAST(2 * cum - cnt + 1 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS r2a,
       |    CAST(sum(CAST(cnt AS DECIMAL(19,0)) * CAST(cnt AS DECIMAL(19,0))
       |        * CAST(cnt AS DECIMAL(19,0)) - CAST(cnt AS DECIMAL(19,0)))
       |      AS DECIMAL(38,0)) AS tie_t
       |  FROM cw GROUP BY dow),
       |st AS (SELECT dow, n, n_a, n - n_a AS n_b,
       |    CAST(r2a - CAST(CAST(n_a AS DECIMAL(19,0))
       |      * CAST(n_a + 1 AS DECIMAL(19,0)) AS DECIMAL(38,0))
       |      AS DECIMAL(38,0)) AS u2,
       |    tie_t,
       |    CAST(CAST(CAST(n_a AS DECIMAL(19,0)) * CAST(n - n_a AS DECIMAL(19,0))
       |        AS DECIMAL(38,0))
       |      * CAST(CAST(CAST(n + 1 AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
       |          AS DECIMAL(38,0)) * CAST(n - 1 AS DECIMAL(19,0)) - tie_t
       |        AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS v_num,
       |    3 * n * (n - 1) AS v_den
       |  FROM ag)
       |SELECT dow, n_a, n_b, CAST(u2 AS BIGINT) AS u2_a,
       |  CAST(u2 AS DOUBLE) / 2.0 AS u_a,
       |  CAST(tie_t AS BIGINT) AS tie_t,
       |  CASE WHEN n_a = 0 OR n_b = 0 OR v_num = 0 THEN NULL
       |    ELSE (CAST(u2 AS DOUBLE) - CAST(n_a * n_b AS DOUBLE))
       |      / sqrt(CAST(v_num AS DOUBLE) / CAST(v_den AS DOUBLE)) END AS z
       |FROM st ORDER BY dow""".stripMargin)

  /** Wilson score intervals ([[graft.ops.Abtest.wilsonCi]]) for both
    * arms of the [[qMde]] experiment — the small-n-safe CI the Wald
    * interval isn't, with the conservative overlap read. */
  val qAbCi: Q = "q_ab_ci" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Abtest.wilsonCi(Tables.events(s, d), "user_id",
        "event_type = 'purchase' AND value >= 100.0", salt = "exp13"),
    {
      def w(n: String, c: String): (String, String, String) = {
        val p = s"(CAST($c AS DOUBLE) / CAST($n AS DOUBLE))"
        val z2 = "(1.959964 * 1.959964)"
        val den = s"(1.0 + $z2 / CAST($n AS DOUBLE))"
        val ctr = s"(($p + $z2 / (2.0 * CAST($n AS DOUBLE))) / $den)"
        val half = s"(1.959964 * sqrt($p * (1.0 - $p) / CAST($n AS DOUBLE)" +
          s" + $z2 / (4.0 * CAST($n AS DOUBLE) * CAST($n AS DOUBLE))) / $den)"
        (p, s"($ctr - $half)", s"($ctr + $half)")
      }
      val (ra, loA, hiA) = w("n_a", "conv_a")
      val (rb, loB, hiB) = w("n_b", "conv_b")
      val g = "n_a = 0 OR n_b = 0"
      s"""WITH $EV,
         |un AS (SELECT user_id AS unit,
         |    max(CASE WHEN event_type = 'purchase' AND value >= 100.0
         |      THEN 1 ELSE 0 END) AS converted
         |  FROM ev GROUP BY 1),
         |va AS (SELECT converted,
         |    CAST('0x' || substr(md5(CAST(unit AS VARCHAR) || 'exp13'), 1, 7)
         |      AS BIGINT) % 2 AS variant FROM un),
         |ag AS (SELECT
         |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |    CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END)
         |      AS BIGINT) AS conv_a,
         |    CAST(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END)
         |      AS BIGINT) AS conv_b
         |  FROM va)
         |SELECT n_a, conv_a,
         |  CASE WHEN $g THEN NULL ELSE $ra END AS rate_a,
         |  CASE WHEN $g THEN NULL ELSE $loA END AS lo_a,
         |  CASE WHEN $g THEN NULL ELSE $hiA END AS hi_a,
         |  n_b, conv_b,
         |  CASE WHEN $g THEN NULL ELSE $rb END AS rate_b,
         |  CASE WHEN $g THEN NULL ELSE $loB END AS lo_b,
         |  CASE WHEN $g THEN NULL ELSE $hiB END AS hi_b,
         |  CASE WHEN $g THEN NULL
         |    ELSE ($loB <= $hiA AND $loA <= $hiB) END AS overlap
         |FROM ag""".stripMargin
    })

  /** Rank-biserial effect size ([[graft.ops.Stats.rankBiserial]]) for
    * the [[qMannWhitney]] comparison — at corpus scale everything is
    * "significant"; this is the magnitude card (P(A beats B) −
    * P(B beats A), exact). */
  val qRankBiserial: Q = "q_rank_biserial" -> (
    (s: SparkSession, d: String) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "error"))
        .select((col("value").cast("decimal(18,2)") * 100).cast("long")
            .as("cents"),
          col("event_type"))
      graft.ops.Stats.rankBiserial(ev, Seq(), "cents",
        "event_type = 'purchase'")
    },
    s"""WITH $EV,
       |f AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
       |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a
       |  FROM ev WHERE event_type IN ('purchase', 'error')),
       |pc AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt,
       |    CAST(sum(a) AS BIGINT) AS cnt_a FROM f GROUP BY v),
       |cw AS (SELECT v, cnt, cnt_a,
       |    CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum,
       |    CAST(sum(cnt) OVER () AS BIGINT) AS n,
       |    CAST(sum(cnt_a) OVER () AS BIGINT) AS n_a
       |  FROM pc),
       |ag AS (SELECT max(n) AS n, max(n_a) AS n_a,
       |    CAST(sum(CAST(cnt_a AS DECIMAL(19,0))
       |      * CAST(2 * cum - cnt + 1 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS r2a
       |  FROM cw),
       |st AS (SELECT n_a, n - n_a AS n_b,
       |    CAST(r2a - CAST(CAST(n_a AS DECIMAL(19,0))
       |      * CAST(n_a + 1 AS DECIMAL(19,0)) AS DECIMAL(38,0))
       |      AS DECIMAL(38,0)) AS u2
       |  FROM ag)
       |SELECT n_a, n_b, CAST(u2 AS BIGINT) AS u2_a,
       |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
       |    ELSE CAST(u2 AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) - 1.0
       |    END AS rank_biserial
       |FROM st""".stripMargin)

  /** Exact odds ratio ([[graft.ops.Stats.oddsRatio2x2]]) for the
    * [[qChi2Assoc]] table — the effect-size fraction next to the
    * significance number, no Haldane fudge. */
  val qOddsRatio: Q = "q_odds_ratio" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Stats.oddsRatio2x2(Tables.documents(s, d),
        "lang = 'en'", "n_chars >= 300"),
    s"""WITH f AS (SELECT (lang = 'en') AS a, (n_chars >= 300) AS b
       |  FROM documents),
       |ct AS (SELECT
       |    CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS o11,
       |    CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS o10,
       |    CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS o01,
       |    CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS o00
       |  FROM f)
       |SELECT o11 + o10 + o01 + o00 AS n, o11, o10, o01, o00,
       |  CAST(CAST(CAST(o11 AS DECIMAL(19,0)) * CAST(o00 AS DECIMAL(19,0))
       |    AS DECIMAL(38,0)) AS BIGINT) AS or_num,
       |  CAST(CAST(CAST(o10 AS DECIMAL(19,0)) * CAST(o01 AS DECIMAL(19,0))
       |    AS DECIMAL(38,0)) AS BIGINT) AS or_den,
       |  CASE WHEN o10 = 0 OR o01 = 0 THEN NULL
       |    ELSE CAST(CAST(CAST(o11 AS DECIMAL(19,0)) * CAST(o00 AS DECIMAL(19,0))
       |        AS DECIMAL(38,0)) AS DOUBLE)
       |      / CAST(CAST(CAST(o10 AS DECIMAL(19,0)) * CAST(o01 AS DECIMAL(19,0))
       |        AS DECIMAL(38,0)) AS DOUBLE) END AS odds_ratio
       |FROM ct""".stripMargin)

  /** GROUPED Cohen's kappa ([[graft.ops.Stats.kappa]] with groupCols):
    * the lang-ID agreement card PER LENGTH CLASS — the per-segment
    * classifier-drift screen (short docs carry fewer stopword hits, so
    * the heuristic's chance-debited agreement should differ visibly
    * between classes; one pooled kappa hides that). */
  val qKappaBy: Q = "q_kappa_by" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Stats.kappa(
        Tables.documents(s, d)
          .select((col("n_chars") >= 300).as("long_doc"),
            col("lang"), Text.langId(col("text")).as("lang_pred")),
        Seq("long_doc"), "lang", "lang_pred")
        .orderBy(col("long_doc")),
    {
      def hits(lex: Seq[String]) = {
        val lst = lex.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter($TOKS, t -> list_contains($lst, t)))"
      }
      val de = hits(Seq("der", "die", "das", "und", "ein", "ist", "zu"))
      val en = hits(Seq("the", "a", "of", "and", "to", "in", "is"))
      val es = hits(Seq("el", "la", "de", "y", "un", "una", "es"))
      val fr = hits(Seq("le", "la", "de", "et", "un", "une", "est"))
      s"""WITH h AS (SELECT (n_chars >= 300) AS long_doc, lang,
         |    $de AS h_de, $en AS h_en, $es AS h_es, $fr AS h_fr
         |  FROM documents),
         |pred AS (SELECT long_doc, lang AS ka, CASE
         |    WHEN h_de > 0 AND h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
         |    WHEN h_en > 0 AND h_en >= h_es AND h_en >= h_fr THEN 'en'
         |    WHEN h_es > 0 AND h_es >= h_fr THEN 'es'
         |    WHEN h_fr > 0 THEN 'fr'
         |    ELSE 'und' END AS kp
         |  FROM h),
         |cells AS (SELECT long_doc, ka, kp, CAST(count(*) AS BIGINT) AS cnt
         |  FROM pred GROUP BY 1, 2, 3),
         |rm AS (SELECT long_doc, ka AS k, CAST(sum(cnt) AS BIGINT) AS r
         |  FROM cells GROUP BY 1, 2),
         |cm AS (SELECT long_doc, kp AS k, CAST(sum(cnt) AS BIGINT) AS c
         |  FROM cells GROUP BY 1, 2),
         |pe AS (SELECT long_doc, CAST(sum(CAST(r AS DECIMAL(19,0))
         |      * CAST(c AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS pe0
         |  FROM rm JOIN cm USING (long_doc, k) GROUP BY 1),
         |tot AS (SELECT long_doc, CAST(sum(cnt) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN ka = kp THEN cnt ELSE 0 END) AS BIGINT)
         |      AS n_agree
         |  FROM cells GROUP BY 1),
         |j AS (SELECT tot.long_doc AS long_doc, n, n_agree,
         |    COALESCE(pe0, CAST(0 AS DECIMAL(38,0))) AS pe_num
         |  FROM tot LEFT JOIN pe ON tot.long_doc = pe.long_doc)
         |SELECT long_doc, n, n_agree, CAST(pe_num AS BIGINT) AS pe_num,
         |  CAST(CAST(CAST(n AS DECIMAL(19,0)) * CAST(n_agree AS DECIMAL(19,0))
         |    AS DECIMAL(38,0)) - pe_num AS BIGINT) AS kappa_num,
         |  CAST(CAST(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
         |    AS DECIMAL(38,0)) - pe_num AS BIGINT) AS kappa_den,
         |  CASE WHEN CAST(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
         |      AS DECIMAL(38,0)) - pe_num = 0 THEN NULL
         |    ELSE CAST(CAST(CAST(n AS DECIMAL(19,0)) * CAST(n_agree AS DECIMAL(19,0))
         |        AS DECIMAL(38,0)) - pe_num AS DOUBLE)
         |      / CAST(CAST(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
         |        AS DECIMAL(38,0)) - pe_num AS DOUBLE) END AS kappa
         |FROM j ORDER BY long_doc""".stripMargin
    })

  /** GROUPED 2×2 chi-square ([[graft.ops.Stats.chi2x2]] with
    * groupCols): the purchase×big-ticket association PER DAY-OF-WEEK —
    * Simpson's-paradox triage (does the pooled association hold every
    * day, or is one day driving it?). */
  val qChi2By: Q = "q_chi2_by" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Stats.chi2x2(
        Tables.events(s, d)
          .select(expr("(ts_us div 86400000000) % 7").as("dow"),
            col("event_type"), col("value")),
        Seq("dow"), "event_type = 'purchase'", "value >= 100.0")
        .orderBy(col("dow")),
    s"""WITH $EV,
       |f AS (SELECT (ts_us // 86400000000) % 7 AS dow,
       |    (event_type = 'purchase') AS a, (value >= 100.0) AS b
       |  FROM ev),
       |ct AS (SELECT dow,
       |    CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS o11,
       |    CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS o10,
       |    CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS o01,
       |    CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS o00
       |  FROM f GROUP BY 1),
       |st AS (SELECT dow, o11, o10, o01, o00, o11 + o10 + o01 + o00 AS n,
       |    CAST(CAST(o11 AS DECIMAL(19,0)) * CAST(o00 AS DECIMAL(19,0))
       |      - CAST(o10 AS DECIMAL(19,0)) * CAST(o01 AS DECIMAL(19,0))
       |      AS DECIMAL(38,0)) AS det,
       |    o11 + o10 AS r1, o01 + o00 AS r0, o11 + o01 AS c1, o10 + o00 AS c0
       |  FROM ct)
       |SELECT dow, n, o11, o10, o01, o00, CAST(det AS BIGINT) AS det,
       |  CASE WHEN r1 = 0 OR r0 = 0 OR c1 = 0 OR c0 = 0 THEN NULL
       |    ELSE CAST(CAST(CAST(n AS DECIMAL(19,0)) * CAST(det * det
       |        AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS DOUBLE)
       |      / CAST(CAST(CAST(CAST(r1 AS DECIMAL(19,0)) * CAST(r0 AS DECIMAL(19,0))
       |          AS DECIMAL(38,0)) * CAST(CAST(c1 AS DECIMAL(19,0))
       |          * CAST(c0 AS DECIMAL(19,0)) AS DECIMAL(38,0))
       |        AS DECIMAL(38,0)) AS DOUBLE) END AS chi2,
       |  CASE WHEN r1 = 0 OR r0 = 0 OR c1 = 0 OR c0 = 0 THEN NULL
       |    ELSE CAST(det AS DOUBLE)
       |      / (sqrt(CAST(r1 * r0 AS DOUBLE)) * sqrt(CAST(c1 * c0 AS DOUBLE)))
       |    END AS phi
       |FROM st ORDER BY dow""".stripMargin)

  /** GROUPED Goodman–Kruskal lambda ([[graft.ops.Stats.gkLambda]] with
    * groupCols): does the lang-ID prediction reduce error in BOTH
    * length classes, or only where stopword evidence is plentiful? */
  val qGkLambdaBy: Q = "q_gk_lambda_by" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Stats.gkLambda(
        Tables.documents(s, d)
          .select((col("n_chars") >= 300).as("long_doc"),
            col("lang"), Text.langId(col("text")).as("lang_pred")),
        Seq("long_doc"), "lang_pred", "lang")
        .orderBy(col("long_doc")),
    {
      def hits(lex: Seq[String]) = {
        val lst = lex.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter($TOKS, t -> list_contains($lst, t)))"
      }
      val de = hits(Seq("der", "die", "das", "und", "ein", "ist", "zu"))
      val en = hits(Seq("the", "a", "of", "and", "to", "in", "is"))
      val es = hits(Seq("el", "la", "de", "y", "un", "una", "es"))
      val fr = hits(Seq("le", "la", "de", "et", "un", "une", "est"))
      s"""WITH h AS (SELECT (n_chars >= 300) AS long_doc, lang,
         |    $de AS h_de, $en AS h_en, $es AS h_es, $fr AS h_fr
         |  FROM documents),
         |pred AS (SELECT long_doc, CASE
         |    WHEN h_de > 0 AND h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
         |    WHEN h_en > 0 AND h_en >= h_es AND h_en >= h_fr THEN 'en'
         |    WHEN h_es > 0 AND h_es >= h_fr THEN 'es'
         |    WHEN h_fr > 0 THEN 'fr'
         |    ELSE 'und' END AS x, lang AS y
         |  FROM h),
         |cells AS (SELECT long_doc, x, y, CAST(count(*) AS BIGINT) AS cnt
         |  FROM pred GROUP BY 1, 2, 3),
         |sm AS (SELECT long_doc, CAST(sum(mx) AS BIGINT) AS sum_modal
         |  FROM (SELECT long_doc, x, max(cnt) AS mx FROM cells GROUP BY 1, 2)
         |  GROUP BY 1),
         |my AS (SELECT long_doc, max(cy) AS modal_y
         |  FROM (SELECT long_doc, y, CAST(sum(cnt) AS BIGINT) AS cy
         |    FROM cells GROUP BY 1, 2)
         |  GROUP BY 1),
         |tot AS (SELECT long_doc, CAST(sum(cnt) AS BIGINT) AS n
         |  FROM cells GROUP BY 1)
         |SELECT long_doc, n, sum_modal, modal_y,
         |  sum_modal - modal_y AS lambda_num, n - modal_y AS lambda_den,
         |  CASE WHEN n = modal_y THEN NULL
         |    ELSE CAST(sum_modal - modal_y AS DOUBLE)
         |      / CAST(n - modal_y AS DOUBLE) END AS lambda_gk
         |FROM tot JOIN sm USING (long_doc) JOIN my USING (long_doc)
         |ORDER BY long_doc""".stripMargin
    })

  /** GROUPED Spearman ([[graft.ops.Stats.spearman]] with groupCols):
    * the per-user activity↔spend monotone association PER DAY-OF-WEEK
    * — rank tables partition by the group, so each day's distinct-value
    * pass is independent (and under the checked axis ceiling). */
  val qSpearmanBy: Q = "q_spearman_by" -> (
    (s: SparkSession, d: String) => {
      val dec2 = col("value").cast("decimal(18,2)")
      val u = Tables.events(s, d)
        .groupBy(expr("(ts_us div 86400000000) % 7").as("dow"),
          col("user_id"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          (sum(dec2) * 100).cast("long").as("cents"))
      graft.ops.Stats.spearman(u, Seq("dow"), "n_events", "cents")
        .orderBy(col("dow"))
    },
    s"""WITH $EV,
       |u AS (SELECT (ts_us // 86400000000) % 7 AS dow, user_id,
       |    CAST(count(*) AS BIGINT) AS x,
       |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
       |  FROM ev GROUP BY 1, 2),
       |rx AS (SELECT dow, x, CAST(count(*) AS BIGINT) AS cnt
       |  FROM u GROUP BY 1, 2),
       |rx2 AS (SELECT dow, x, 2 * CAST(sum(cnt)
       |    OVER (PARTITION BY dow ORDER BY x) AS BIGINT) - cnt + 1 AS dx
       |  FROM rx),
       |ry AS (SELECT dow, y, CAST(count(*) AS BIGINT) AS cnt
       |  FROM u GROUP BY 1, 2),
       |ry2 AS (SELECT dow, y, 2 * CAST(sum(cnt)
       |    OVER (PARTITION BY dow ORDER BY y) AS BIGINT) - cnt + 1 AS dy
       |  FROM ry),
       |j AS (SELECT u.dow, u.x, u.y, rx2.dx, ry2.dy
       |  FROM u JOIN rx2 ON u.dow = rx2.dow AND u.x = rx2.x
       |    JOIN ry2 ON u.dow = ry2.dow AND u.y = ry2.y),
       |ag AS (SELECT dow, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CAST(dx AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sdx,
       |    CAST(sum(CAST(dy AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sdy,
       |    CAST(sum(CAST(dx AS DECIMAL(19,0)) * CAST(dy AS DECIMAL(19,0)))
       |      AS DECIMAL(38,0)) AS sxy,
       |    CAST(sum(CAST(dx AS DECIMAL(19,0)) * CAST(dx AS DECIMAL(19,0)))
       |      AS DECIMAL(38,0)) AS sxx,
       |    CAST(sum(CAST(dy AS DECIMAL(19,0)) * CAST(dy AS DECIMAL(19,0)))
       |      AS DECIMAL(38,0)) AS syy
       |  FROM j GROUP BY 1),
       |st AS (SELECT dow, n,
       |    CAST(CAST(n AS DECIMAL(19,0)) * sxy - CAST(sdx * sdy
       |      AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS num,
       |    CAST(CAST(n AS DECIMAL(19,0)) * sxx - CAST(sdx * sdx
       |      AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS sx,
       |    CAST(CAST(n AS DECIMAL(19,0)) * syy - CAST(sdy * sdy
       |      AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS sy
       |  FROM ag)
       |SELECT dow, n, CAST(num AS BIGINT) AS s_xy, CAST(sx AS BIGINT) AS s_x,
       |  CAST(sy AS BIGINT) AS s_y,
       |  CASE WHEN sx = 0 OR sy = 0 THEN NULL
       |    ELSE CAST(num AS DOUBLE)
       |      / (sqrt(CAST(sx AS DOUBLE)) * sqrt(CAST(sy AS DOUBLE))) END AS rho
       |FROM st ORDER BY dow""".stripMargin)

  /** [[qAbReadout]] maintained through the ADDITIVE experiment store
    * ([[graft.ops.Abtest.momentsStoreAppend]], three USER-disjoint
    * event slices — the store's unit-partitioning contract): per-arm
    * counts and conversions add across batches, so the dashboard read
    * equals the one-shot readout bit-for-bit and the oracle is
    * [[qAbReadout]]'s verbatim. */
  val qAbStored: Q = "q_ab_stored" -> (
    (s: SparkSession, d: String) => {
      // SHARED STORE: q_ab_stored / q_srm_stored / q_ab_trace /
      // q_ab_boundary / q_srm_trace all append to 'ab_store' and their
      // appendCommit calls are marker-gated — whichever runs first
      // wins, so all five sites MUST stay parameter-identical (same
      // slices, salt, conversion predicate, tags b0..b2). Changing one
      // means renaming its store path.
      val store = codebookPath(d, "ab_store")
      val ev = Tables.events(s, d)
      (0 to 2).foreach { k =>
        graft.ops.Abtest.momentsStoreAppend(
          ev.filter(pmod(col("user_id"), lit(3)) === k), store, s"b$k",
          "user_id", "event_type = 'purchase' AND value > 110",
          "0", "0", salt = "exp1")
      }
      graft.ops.Abtest.readoutFromStore(s, store)
        .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
          round(col("rate_a"), 9).as("rate_a"),
          round(col("rate_b"), 9).as("rate_b"),
          round(col("lift"), 9).as("lift"), round(col("z"), 6).as("z"))
    },
    qAbReadout._2._2)

  /** [[qCuped]] maintained through the same ADDITIVE experiment store
    * (three user-disjoint slices): per-arm metric/covariate moment
    * sums add across batches, theta is re-estimated from the
    * cumulative pooled moments at read time, and the variance-reduced
    * lift equals the one-shot CUPED card bit-for-bit — the oracle is
    * [[qCuped]]'s verbatim. */
  val qCupedStored: Q = "q_cuped_stored" -> (
    (s: SparkSession, d: String) => {
      // SHARED STORE with q_cuped_trace: the append parameters here
      // MUST stay identical to that site (marker-gated appendCommit
      // keeps the first writer's content).
      val store = codebookPath(d, "cuped_store")
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      val ev = Tables.events(s, d)
        .select(col("user_id"),
          when(expr("(ts_us div 86400000000) % 2") === 1, cents)
            .otherwise(0L).as("y_late"),
          when(expr("(ts_us div 86400000000) % 2") === 0, cents)
            .otherwise(0L).as("x_early"))
      (0 to 2).foreach { k =>
        graft.ops.Abtest.momentsStoreAppend(
          ev.filter(pmod(col("user_id"), lit(3)) === k), store, s"b$k",
          "user_id", "false", "y_late", "x_early", salt = "cuped13")
      }
      graft.ops.Abtest.cupedFromStore(s, store)
    },
    qCuped._2._2)

  /** TIME-TRAVEL bootstrap read
    * ([[graft.ops.Stats.bootstrapFromStoreAsOf]]): the uncertainty
    * gauge as of the FIRST batch tag — a later appended slice must not
    * perturb the audited CI (append-only rows make the cut exact).
    * The oracle is the one-shot bootstrap over slice 0 alone. */
  val qBootstrapAsof: Q = "q_bootstrap_asof" -> (
    (s: SparkSession, d: String) => {
      val store = codebookPath(d, "boot_store_asof")
      val ev = Tables.events(s, d)
        .select(col("event_id"),
          (col("value").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      (0 to 1).foreach { k =>
        graft.ops.Stats.bootstrapStoreAppend(
          ev.filter(col("event_id") % 2 === k), store, s"b$k",
          "event_id", "cents", replicates = 64, salt = "boot13")
      }
      graft.ops.Stats.bootstrapFromStoreAsOf(s, store, "b0")
    },
    {
      val mSql = graft.ops.Stats.PoissonThresholds
        .map(t => s"(CASE WHEN u >= $t THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $EV,
         |base AS (SELECT CAST(event_id AS VARCHAR) AS id,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
         |  FROM ev WHERE event_id % 2 = 0),
         |ov AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(v) AS BIGINT) AS total FROM base),
         |rep AS (SELECT id, v, unnest(range(64)) AS r FROM base),
         |uu AS (SELECT r, v, CAST('0x' || substr(md5(id || '_'
         |    || CAST(r AS VARCHAR) || 'boot13'), 1, 7) AS BIGINT) AS u
         |  FROM rep),
         |mm AS (SELECT r, CAST(($mSql) AS BIGINT) * v AS mv FROM uu),
         |tt AS (SELECT r, CAST(sum(mv) AS BIGINT) AS t FROM mm GROUP BY r),
         |sp AS (SELECT CAST(count(*) AS BIGINT) AS r_n,
         |    CAST(sum(CAST(t AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS st,
         |    CAST(sum(CAST(t AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0)))
         |      AS DECIMAL(38,0)) AS st2
         |  FROM tt),
         |vv AS (SELECT r_n, st, st2,
         |    CAST(CAST(CAST(r_n AS DECIMAL(19,0)) * st2 AS DECIMAL(38,0))
         |      - CAST(st * st AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS v_num,
         |    r_n * (r_n - 1) AS v_den
         |  FROM sp)
         |SELECT r_n AS r, n, total,
         |  CAST(st AS DOUBLE) / CAST(r_n AS DOUBLE) AS boot_mean_total,
         |  CASE WHEN r_n < 2 THEN NULL
         |    ELSE sqrt(CAST(v_num AS DOUBLE) / CAST(v_den AS DOUBLE))
         |    END AS se_total,
         |  CASE WHEN r_n < 2 OR n = 0 THEN NULL
         |    ELSE sqrt(CAST(v_num AS DOUBLE) / CAST(v_den AS DOUBLE))
         |      / CAST(n AS DOUBLE) END AS se_mean
         |FROM ov, vv""".stripMargin
    })

  /** TIME-TRAVEL blocklist read
    * ([[graft.ops.Blocklist.currentTermsAsOf]]): the screen as of the
    * decoy's APPEND tag — the retraction (tagged `retract_b2`, sorting
    * after `b2`) is excluded, so the as-of list still contains the
    * decoy and the audit answers "what did the screen see then", not
    * "what would it see now". Oracle: the inline fixture PLUS the
    * decoy term. */
  val qBlocklistAsof: Q = "q_blocklist_asof" -> (
    (s: SparkSession, d: String) => {
      import s.implicits._
      val store = codebookPath(d, "blocklist_terms_asof")
      val (first, rest) = BlocklistTerms.splitAt(3)
      graft.ops.Blocklist.termStoreAppend(
        first.toDF("term", "category"), store, "b0")
      graft.ops.Blocklist.termStoreAppend(
        rest.toDF("term", "category"), store, "b1")
      val decoy = Seq(("the", "decoy")).toDF("term", "category")
      graft.ops.Blocklist.termStoreAppend(decoy, store, "b2")
      graft.ops.Blocklist.termStoreRetract(decoy, store, "b2")
      graft.ops.Blocklist.screenFromStoreAsOf(
          Tables.documents(s, d), store, "b2")
        .orderBy(col("doc_id"), col("category"))
    },
    s"""WITH ${graft.ops.Blocklist.screenSql(
            BlocklistTerms :+ (("the", "decoy")))}
       |SELECT doc_id, category, hits FROM bl_hits
       |ORDER BY doc_id, category""".stripMargin)

  /** Sample-ratio-mismatch guardrail ([[graft.ops.Abtest.srmCheck]]):
    * the first check any readout must pass — is the md5 split actually
    * 50/50 on this population? Integer chi-square, rational-compared
    * verdict (the drift monitors' threshold convention). */
  val qSrm: Q = "q_srm" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Abtest.srmCheck(Tables.events(s, d), "user_id",
        salt = "exp13"),
    s"""WITH $EV,
       |un AS (SELECT DISTINCT user_id AS unit FROM ev),
       |va AS (SELECT CAST('0x' || substr(md5(CAST(unit AS VARCHAR)
       |    || 'exp13'), 1, 7) AS BIGINT) % 2 AS variant FROM un),
       |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
       |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
       |  FROM va)
       |SELECT n_units, n_a, n_b,
       |  (n_a - n_b) * (n_a - n_b) AS srm_num,
       |  n_a + n_b AS srm_den,
       |  CASE WHEN n_a + n_b = 0 THEN NULL
       |    ELSE CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
       |      / CAST(n_a + n_b AS DOUBLE) END AS srm_chi2,
       |  ((n_a - n_b) * (n_a - n_b)) * 100 > 384 * (n_a + n_b) AS mismatch
       |FROM ag""".stripMargin)

  /** Deterministic permutation test
    * ([[graft.ops.Abtest.permutationTest]], 99 re-randomization
    * salts): the erf-free significance check — p as an exact integer
    * fraction of re-drawn assignments whose |lift| meets the observed
    * one. The whole null distribution is a pure function of
    * (unit ids, salt), so both engines count the same set. */
  val qPermutation: Q = "q_permutation" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Abtest.permutationTest(Tables.events(s, d), "user_id",
        "event_type = 'purchase' AND value > 110", salt = "exp1",
        rounds = 99),
    s"""WITH $EV,
       |un AS (SELECT user_id AS unit,
       |    max(CASE WHEN event_type = 'purchase' AND value > 110
       |      THEN 1 ELSE 0 END) AS converted
       |  FROM ev GROUP BY 1),
       |rep AS (SELECT unit, converted, unnest(range(-1, 99)) AS r FROM un),
       |va AS (SELECT r, converted,
       |    CAST('0x' || substr(md5(CAST(unit AS VARCHAR) ||
       |      CASE WHEN r = -1 THEN 'exp1'
       |        ELSE 'exp1#' || CAST(r AS VARCHAR) END), 1, 7)
       |      AS BIGINT) % 2 AS variant
       |  FROM rep),
       |pr AS (SELECT r,
       |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END)
       |      AS BIGINT) AS conv_a,
       |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |    CAST(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END)
       |      AS BIGINT) AS conv_b
       |  FROM va GROUP BY r),
       |lf AS (SELECT r, CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
       |    ELSE CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
       |      - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) END AS lift
       |  FROM pr),
       |ob AS (SELECT lift AS lift_obs FROM lf WHERE r = -1),
       |nu AS (SELECT CAST(count(*) AS BIGINT) AS n_units FROM un),
       |ct AS (SELECT CAST(count(*) AS BIGINT) AS rounds,
       |    max(lift_obs) AS lift_obs,
       |    CAST(sum(CASE WHEN lift IS NULL OR abs(lift) >= abs(lift_obs)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS ge
       |  FROM lf, ob WHERE r >= 0)
       |SELECT rounds, n_units, lift_obs,
       |  CASE WHEN lift_obs IS NULL THEN NULL ELSE ge + 1 END AS p_num,
       |  CASE WHEN lift_obs IS NULL THEN NULL ELSE rounds + 1 END AS p_den,
       |  CASE WHEN lift_obs IS NULL THEN NULL
       |    ELSE CAST(ge + 1 AS DOUBLE) / CAST(rounds + 1 AS DOUBLE)
       |    END AS p_value
       |FROM ct, nu""".stripMargin)

  /** Continuous-metric MDE planner ([[graft.ops.Abtest.mdeMeanCard]]):
    * the smallest per-user-cents mean shift this traffic could detect,
    * from the DECIMAL-exact pooled unit-level variance — [[qMde]]'s
    * companion for revenue-style outcomes. */
  val qMdeMean: Q = "q_mde_mean" -> (
    (s: SparkSession, d: String) => {
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      graft.ops.Abtest.mdeMeanCard(
        Tables.events(s, d).select(col("user_id"), cents.as("cents")),
        "user_id", "cents", salt = "exp13")
    },
    s"""WITH $EV,
       |un AS (SELECT user_id AS unit,
       |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
       |      AS BIGINT) AS y
       |  FROM ev GROUP BY 1),
       |va AS (SELECT y, CAST('0x' || substr(md5(CAST(unit AS VARCHAR)
       |    || 'exp13'), 1, 7) AS BIGINT) % 2 AS variant FROM un),
       |ag AS (SELECT
       |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
       |    CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
       |      AS DECIMAL(38,0)) AS syy
       |  FROM va),
       |st AS (SELECT n_a, n_b, sy, n_a + n_b AS n,
       |    CAST(CAST(n_a + n_b AS DECIMAL(19,0)) * syy
       |      - CAST(CAST(sy AS DECIMAL(19,0)) * CAST(sy AS DECIMAL(19,0))
       |        AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS s2num
       |  FROM ag)
       |SELECT n_a, n_b, sy,
       |  CASE WHEN n_a = 0 OR n_b = 0 OR n < 2 THEN NULL
       |    ELSE CAST(s2num AS DOUBLE)
       |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) END AS s2,
       |  CASE WHEN n_a = 0 OR n_b = 0 OR n < 2 THEN NULL
       |    ELSE CASE WHEN s2num = 0 THEN NULL
       |      ELSE (1.959964 + 0.841621)
       |        * sqrt(CAST(s2num AS DOUBLE)
       |            / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
       |          * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
       |      END END AS mde_abs
       |FROM st""".stripMargin)

  /** TIME-TRAVEL experiment read
    * ([[graft.ops.Abtest.readoutFromStoreAsOf]]): the dashboard as of
    * the SECOND batch tag — the decision audit ("what did the
    * experimenter see when they shipped?"); the third slice, appended
    * later, must not perturb it. Oracle: the one-shot readout over the
    * first two user-disjoint slices. */
  val qAbAsof: Q = "q_ab_asof" -> (
    (s: SparkSession, d: String) => {
      val store = codebookPath(d, "ab_store_asof")
      val ev = Tables.events(s, d)
      (0 to 2).foreach { k =>
        graft.ops.Abtest.momentsStoreAppend(
          ev.filter(pmod(col("user_id"), lit(3)) === k), store, s"b$k",
          "user_id", "event_type = 'purchase' AND value > 110",
          "0", "0", salt = "exp1")
      }
      graft.ops.Abtest.readoutFromStoreAsOf(s, store, "b1")
        .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
          round(col("rate_a"), 9).as("rate_a"),
          round(col("rate_b"), 9).as("rate_b"),
          round(col("lift"), 9).as("lift"), round(col("z"), 6).as("z"))
    },
    s"""WITH $EV,
       |src AS (SELECT user_id AS unit,
       |    CASE WHEN event_type = 'purchase' AND value > 110
       |      THEN 1 ELSE 0 END AS c
       |  FROM ev WHERE user_id % 3 < 2),
       |${graft.ops.Abtest.oracleCtes("src", Nil, "exp1")}
       |SELECT n_a, conv_a, n_b, conv_b, round(rate_a, 9) AS rate_a,
       |  round(rate_b, 9) AS rate_b, round(lift, 9) AS lift,
       |  round(z, 6) AS z
       |FROM ab""".stripMargin)

  /** GROUPED experiment readout ([[graft.ops.Abtest.readout]] with
    * groupCols, exercised per day-of-week): the per-segment readout
    * every launch review asks for next to the pooled number — a unit
    * active in k segments contributes to each (the standard
    * segment-cut semantics). */
  val qAbBy: Q = "q_ab_by" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Abtest.readout(
        Tables.events(s, d)
          .select(expr("(ts_us div 86400000000) % 7").as("dow"),
            col("user_id"), col("event_type"), col("value")),
        Seq("dow"), "user_id", "event_type = 'purchase' AND value > 110",
        salt = "exp1")
        .select(col("dow"), col("n_a"), col("conv_a"), col("n_b"),
          col("conv_b"),
          round(col("rate_a"), 9).as("rate_a"),
          round(col("rate_b"), 9).as("rate_b"),
          round(col("lift"), 9).as("lift"), round(col("z"), 6).as("z"))
        .orderBy(col("dow")),
    s"""WITH $EV,
       |src AS (SELECT (ts_us // 86400000000) % 7 AS dow, user_id AS unit,
       |    CASE WHEN event_type = 'purchase' AND value > 110
       |      THEN 1 ELSE 0 END AS c
       |  FROM ev),
       |${graft.ops.Abtest.oracleCtes("src", Seq("dow"), "exp1")}
       |SELECT dow, n_a, conv_a, n_b, conv_b, round(rate_a, 9) AS rate_a,
       |  round(rate_b, 9) AS rate_b, round(lift, 9) AS lift,
       |  round(z, 6) AS z
       |FROM ab ORDER BY dow""".stripMargin)

  /** Kruskal–Wallis H ([[graft.ops.Stats.kruskalWallis]]) across the
    * three named event types: did ANY arm shift the cents
    * distribution — the k-group omnibus before pairwise rank-sums.
    * Exact doubled-rank masses per group; H assembled in ONE
    * deterministic left-to-right double expression over the declared
    * group order, mirrored verbatim. */
  val qKruskal: Q = "q_kruskal" -> (
    (s: SparkSession, d: String) => {
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      graft.ops.Stats.kruskalWallis(
        Tables.events(s, d).select(cents.as("cents"), col("event_type")),
        "cents", "event_type", Seq("error", "purchase", "view"))
    },
    {
      val gs = Seq("error", "purchase", "view")
      val cnts = gs.map(g =>
        s"""CAST(sum(CASE WHEN g = '$g' THEN 1 ELSE 0 END) AS BIGINT)
           | AS cnt_$g""".stripMargin.replace("\n", "")).mkString(",\n|    ")
      val aggs = gs.map(g =>
        s"""COALESCE(CAST(sum(cnt_$g) AS BIGINT), 0) AS n_$g,
           |    COALESCE(CAST(CAST(sum(CAST(cnt_$g AS DECIMAL(19,0))
           |      * CAST(d2 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS BIGINT), 0)
           |      AS r2_$g""".stripMargin).mkString(",\n|    ")
      val terms = gs.map(g =>
        s"""CAST(r2_$g AS DOUBLE) * CAST(r2_$g AS DOUBLE)
           | / (4.0 * CAST(n_$g AS DOUBLE))""".stripMargin.replace("\n", ""))
        .mkString(" + ")
      val anyEmpty = gs.map(g => s"n_$g = 0").mkString(" OR ")
      val nD = "CAST(n AS DOUBLE)"
      val h = s"12.0 * ($terms) / ($nD * ($nD + 1.0)) - 3.0 * ($nD + 1.0)"
      val allTied = s"""CAST(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
        | * CAST(n AS DECIMAL(19,0)) - CAST(n AS DECIMAL(19,0))
        | AS DECIMAL(38,0)) = tie_dec""".stripMargin.replace("\n", "")
      val tieFrac = s"CAST(tie_dec AS DOUBLE) / ($nD * $nD * $nD - $nD)"
      s"""WITH $EV,
         |f AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
         |    event_type AS g FROM ev),
         |oth AS (SELECT COALESCE(CAST(sum(CASE WHEN g IS NULL
         |      OR g NOT IN ('error', 'purchase', 'view') THEN 1 ELSE 0 END)
         |    AS BIGINT), 0) AS n_other FROM f),
         |k AS (SELECT * FROM f WHERE g IN ('error', 'purchase', 'view')),
         |pc AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt,
         |    $cnts
         |  FROM k GROUP BY v),
         |cw AS (SELECT *, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum
         |  FROM pc),
         |r AS (SELECT *, 2 * cum - cnt + 1 AS d2 FROM cw),
         |ag AS (SELECT COALESCE(CAST(sum(cnt) AS BIGINT), 0) AS n,
         |    COALESCE(CAST(sum(CAST(cnt AS DECIMAL(19,0))
         |      * CAST(cnt AS DECIMAL(19,0)) * CAST(cnt AS DECIMAL(19,0))
         |      - CAST(cnt AS DECIMAL(19,0))) AS DECIMAL(38,0)),
         |      CAST(0 AS DECIMAL(38,0))) AS tie_dec,
         |    $aggs
         |  FROM r)
         |SELECT n, n_other, ${gs.map(g => s"n_$g").mkString(", ")},
         |  ${gs.map(g => s"r2_$g").mkString(", ")},
         |  CAST(tie_dec AS BIGINT) AS tie_t,
         |  CASE WHEN $anyEmpty THEN NULL ELSE $h END AS h,
         |  CASE WHEN $anyEmpty OR n < 2 THEN NULL
         |    ELSE CASE WHEN $allTied THEN NULL
         |      ELSE ($h) / (1.0 - $tieFrac) END END AS h_corrected
         |FROM ag, oth""".stripMargin
    })

  /** Cochran's Q ([[graft.ops.Stats.cochranQ]]) across the THREE
    * lang-ID voters graded on the same documents (success = vote
    * matches ground truth): the k-way McNemar — do the heuristics
    * differ at all, before pairwise drill-downs? Entirely integer but
    * one division. The explode guarantees every item carries exactly
    * k = 3 votes, so bad_items = 0 structurally and the oracle's
    * complete-case sums (cochranQ excludes incomplete items) equal
    * the all-item sums it computes. */
  val qCochranQ: Q = "q_cochran_q" -> (
    (s: SparkSession, d: String) => {
      val t = col("text")
      def h(lex: Seq[String]) = Text.stopwordHits(t, lex)
      val hEn = h(Seq("the", "a", "of", "and", "to", "in", "is"))
      val hEs = h(Seq("el", "la", "de", "y", "un", "una", "es"))
      val hFr = h(Seq("le", "la", "de", "et", "un", "une", "est"))
      val hDe = h(Seq("der", "die", "das", "und", "ein", "ist", "zu"))
      val v1 = Text.langId(t)
      val v2 = when(hEn > 0, lit("en")).otherwise(lit("und"))
      val v3 = when(hDe > 0 && hDe >= hEs && hDe >= hFr, lit("de"))
        .when(hEs > 0 && hEs >= hFr, lit("es"))
        .when(hFr > 0, lit("fr")).otherwise(lit("und"))
      val votes = Tables.documents(s, d)
        .select(col("doc_id"), explode(array(
          struct(lit("v1").as("t"), (v1 === col("lang")).as("s")),
          struct(lit("v2").as("t"), (v2 === col("lang")).as("s")),
          struct(lit("v3").as("t"), (v3 === col("lang")).as("s"))))
          .as("e"))
        .select(col("doc_id"), col("e.t").as("t"), col("e.s").as("s"))
      graft.ops.Stats.cochranQ(votes, "doc_id", "t", "s", k = 3)
    },
    {
      def hits(lex: Seq[String]) = {
        val lst = lex.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter($TOKS, t -> list_contains($lst, t)))"
      }
      val de = hits(Seq("der", "die", "das", "und", "ein", "ist", "zu"))
      val en = hits(Seq("the", "a", "of", "and", "to", "in", "is"))
      val es = hits(Seq("el", "la", "de", "y", "un", "una", "es"))
      val fr = hits(Seq("le", "la", "de", "et", "un", "une", "est"))
      s"""WITH h AS (SELECT lang, $de AS h_de, $en AS h_en, $es AS h_es,
         |    $fr AS h_fr FROM documents),
         |sc AS (SELECT
         |    CASE WHEN (CASE
         |      WHEN h_de > 0 AND h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
         |      WHEN h_en > 0 AND h_en >= h_es AND h_en >= h_fr THEN 'en'
         |      WHEN h_es > 0 AND h_es >= h_fr THEN 'es'
         |      WHEN h_fr > 0 THEN 'fr'
         |      ELSE 'und' END) = lang THEN 1 ELSE 0 END AS s1,
         |    CASE WHEN (CASE WHEN h_en > 0 THEN 'en' ELSE 'und' END) = lang
         |      THEN 1 ELSE 0 END AS s2,
         |    CASE WHEN (CASE
         |      WHEN h_de > 0 AND h_de >= h_es AND h_de >= h_fr THEN 'de'
         |      WHEN h_es > 0 AND h_es >= h_fr THEN 'es'
         |      WHEN h_fr > 0 THEN 'fr'
         |      ELSE 'und' END) = lang THEN 1 ELSE 0 END AS s3
         |  FROM h),
         |ag AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
         |    CAST(sum(s1) AS BIGINT) AS t1, CAST(sum(s2) AS BIGINT) AS t2,
         |    CAST(sum(s3) AS BIGINT) AS t3,
         |    CAST(sum((s1 + s2 + s3) * (s1 + s2 + s3)) AS BIGINT) AS sum_ui2
         |  FROM sc),
         |st AS (SELECT n_items, CAST(0 AS BIGINT) AS bad_items,
         |    t1 + t2 + t3 AS n_success,
         |    t1 * t1 + t2 * t2 + t3 * t3 AS sum_tj2, sum_ui2
         |  FROM ag),
         |qq AS (SELECT *,
         |    CAST(CAST(2 AS DECIMAL(19,0)) * CAST(CAST(3 AS DECIMAL(19,0))
         |      * CAST(sum_tj2 AS DECIMAL(19,0)) AS DECIMAL(38,0))
         |      - CAST(2 AS DECIMAL(19,0)) * CAST(CAST(n_success AS DECIMAL(19,0))
         |      * CAST(n_success AS DECIMAL(19,0)) AS DECIMAL(38,0))
         |      AS DECIMAL(38,0)) AS q_num_dec,
         |    3 * n_success - sum_ui2 AS q_den
         |  FROM st)
         |SELECT 3 AS k, n_items, bad_items, n_success, sum_tj2, sum_ui2,
         |  CAST(q_num_dec AS BIGINT) AS q_num, q_den,
         |  CASE WHEN q_den = 0 THEN NULL
         |    ELSE CAST(q_num_dec AS DOUBLE) / CAST(q_den AS DOUBLE)
         |    END AS q
         |FROM qq""".stripMargin
    })

  /** Kendall concordance ([[graft.ops.Stats.kendallCells]]) between
    * bucketed token count and bucketed char count over documents —
    * gamma (pure rational) + tau-b (one sqrt) from exact
    * concordant/discordant pair masses over the quantized cell
    * relation (|cells|² bounded by the two bucket domains, never by
    * the corpus). */
  val qKendall: Q = "q_kendall" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Stats.kendallCells(
        Tables.documents(s, d)
          .select(Text.tokenCount(col("text")).cast("long").as("tc"),
            col("n_chars")),
        "tc div 8", "n_chars div 64"),
    s"""WITH cells AS (SELECT CAST(len($TOKS) AS BIGINT) // 8 AS x,
       |    CAST(n_chars AS BIGINT) // 64 AS y,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM documents GROUP BY 1, 2),
       |pr AS (SELECT
       |    COALESCE(CAST(sum(CASE WHEN a.y < b.y
       |        THEN CAST(CAST(a.cnt AS DECIMAL(19,0))
       |          * CAST(b.cnt AS DECIMAL(19,0)) AS DECIMAL(38,0))
       |        ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)),
       |      CAST(0 AS DECIMAL(38,0))) AS c_pairs,
       |    COALESCE(CAST(sum(CASE WHEN a.y > b.y
       |        THEN CAST(CAST(a.cnt AS DECIMAL(19,0))
       |          * CAST(b.cnt AS DECIMAL(19,0)) AS DECIMAL(38,0))
       |        ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)),
       |      CAST(0 AS DECIMAL(38,0))) AS d_pairs
       |  FROM cells a JOIN cells b ON a.x < b.x),
       |tot AS (SELECT COALESCE(CAST(sum(cnt) AS BIGINT), 0) AS n,
       |    CAST(count(*) AS BIGINT) AS n_cells FROM cells),
       |tx AS (SELECT COALESCE(CAST(sum(CAST(m AS DECIMAL(19,0))
       |      * CAST(m - 1 AS DECIMAL(19,0))) AS DECIMAL(38,0)),
       |    CAST(0 AS DECIMAL(38,0))) AS t2_x
       |  FROM (SELECT CAST(sum(cnt) AS BIGINT) AS m FROM cells GROUP BY x)),
       |ty AS (SELECT COALESCE(CAST(sum(CAST(m AS DECIMAL(19,0))
       |      * CAST(m - 1 AS DECIMAL(19,0))) AS DECIMAL(38,0)),
       |    CAST(0 AS DECIMAL(38,0))) AS t2_y
       |  FROM (SELECT CAST(sum(cnt) AS BIGINT) AS m FROM cells GROUP BY y)),
       |st AS (SELECT n, n_cells, c_pairs, d_pairs,
       |    CAST(CAST(n AS DECIMAL(19,0)) * CAST(n - 1 AS DECIMAL(19,0))
       |      AS DECIMAL(38,0)) - t2_x AS den1,
       |    CAST(CAST(n AS DECIMAL(19,0)) * CAST(n - 1 AS DECIMAL(19,0))
       |      AS DECIMAL(38,0)) - t2_y AS den2
       |  FROM tot, pr, tx, ty)
       |SELECT n, n_cells, CAST(c_pairs AS BIGINT) AS c_pairs,
       |  CAST(d_pairs AS BIGINT) AS d_pairs,
       |  CASE WHEN c_pairs + d_pairs = 0 THEN NULL
       |    ELSE CAST(c_pairs - d_pairs AS DOUBLE)
       |      / CAST(c_pairs + d_pairs AS DOUBLE) END AS gamma,
       |  CASE WHEN den1 = 0 OR den2 = 0 THEN NULL
       |    ELSE 2.0 * CAST(c_pairs - d_pairs AS DOUBLE)
       |      / (sqrt(CAST(den1 AS DOUBLE)) * sqrt(CAST(den2 AS DOUBLE)))
       |    END AS tau_b
       |FROM st""".stripMargin)

  /** [[qSrm]] read OFF the experiment store
    * ([[graft.ops.Abtest.srmFromStore]], same three user-disjoint
    * slices as [[qAbStored]]): the live dashboard's guardrail — one
    * scan of the model-sized store, answer identical to re-deriving
    * the split from raw events. Oracle: the one-shot SRM over all
    * units under the store's salt. */
  val qSrmStored: Q = "q_srm_stored" -> (
    (s: SparkSession, d: String) => {
      // SHARED STORE with q_ab_stored/q_ab_trace/q_ab_boundary: the
      // append parameters here MUST stay identical to those sites
      // (marker-gated appendCommit keeps the first writer's content).
      val store = codebookPath(d, "ab_store")
      val ev = Tables.events(s, d)
      (0 to 2).foreach { k =>
        graft.ops.Abtest.momentsStoreAppend(
          ev.filter(pmod(col("user_id"), lit(3)) === k), store, s"b$k",
          "user_id", "event_type = 'purchase' AND value > 110",
          "0", "0", salt = "exp1")
      }
      graft.ops.Abtest.srmFromStore(s, store)
    },
    s"""WITH $EV,
       |un AS (SELECT DISTINCT user_id AS unit FROM ev),
       |va AS (SELECT CAST('0x' || substr(md5(CAST(unit AS VARCHAR)
       |    || 'exp1'), 1, 7) AS BIGINT) % 2 AS variant FROM un),
       |ag AS (SELECT
       |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
       |  FROM va)
       |SELECT n_a + n_b AS n_units, n_a, n_b,
       |  (n_a - n_b) * (n_a - n_b) AS srm_num,
       |  n_a + n_b AS srm_den,
       |  CASE WHEN n_a + n_b = 0 THEN NULL
       |    ELSE CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
       |      / CAST(n_a + n_b AS DOUBLE) END AS srm_chi2,
       |  ((n_a - n_b) * (n_a - n_b)) * 100 > 384 * (n_a + n_b) AS mismatch
       |FROM ag""".stripMargin)

  /** TIME-TRAVEL cardinality read
    * ([[graft.ops.Hll.estimateFromStoreAsOf]]): per-source distinct
    * tokens as of the SECOND register batch — a later appended slice
    * must not perturb the audited estimate (max-merge of an
    * append-only prefix). Oracle replays the sketch over the first two
    * slices, with the exact count alongside. */
  val qHllAsof: Q = "q_hll_asof" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val store = codebookPath(d, "hll_regs_asof")
      def slice(k: Int) = docs.filter(col("doc_id") % 3 === k)
        .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
      (0 to 2).foreach { k =>
        graft.ops.Hll.registerStoreAppend(slice(k), store, s"b$k",
          Seq("source"), "tok", 256)
      }
      val est = graft.ops.Hll.estimateFromStoreAsOf(s, store,
        Seq("source"), 256, asOfTag = "b1")
      val exact = docs.filter(col("doc_id") % 3 < 2)
        .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("source")
        .agg(countDistinct(col("tok")).cast("long").as("exact_distinct"))
      est.join(exact, Seq("source"))
        .select(col("source"), col("buckets_hit"),
          round(col("est"), 6).as("est"), col("exact_distinct"))
        .orderBy(col("source"))
    },
    s"""WITH t AS (SELECT source, unnest($TOKS) AS tok FROM documents
       |  WHERE doc_id % 3 < 2),
       |tf AS (SELECT source, tok AS v FROM t WHERE tok <> ''),
       |${graft.ops.Hll.oracleCtes("tf", Seq("source"), 256)},
       |ex AS (SELECT source, CAST(count(DISTINCT v) AS BIGINT) AS exact_distinct
       |  FROM tf GROUP BY 1)
       |SELECT source, buckets_hit, round(est, 6) AS est, exact_distinct
       |FROM hll_est JOIN ex USING (source) ORDER BY source""".stripMargin)

  /** TIME-TRAVEL frequency read ([[graft.ops.Cms.fromStoreAsOf]]):
    * token frequencies as of the SECOND cell batch — cell sums over an
    * append-only prefix reconstruct the sketch any reader probed after
    * batch N. Top-20 of the cut corpus probed against the cut
    * sketch. */
  val qCmsAsof: Q = "q_cms_asof" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val store = codebookPath(d, "cms_cells_asof")
      def slice(k: Int) = docs.filter(col("doc_id") % 3 === k)
        .select(explode(Text.tokens(col("text"))).as("v"))
        .filter(col("v") =!= "")
      (0 to 2).foreach { k =>
        graft.ops.Cms.storeAppend(slice(k), store, s"b$k", "v", 4, 1024)
      }
      val sketch = graft.ops.Cms.fromStoreAsOf(s, store, asOfTag = "b1")
      val toks = docs.filter(col("doc_id") % 3 < 2)
        .select(explode(Text.tokens(col("text"))).as("v"))
        .filter(col("v") =!= "")
      val top = toks.groupBy("v")
        .agg(count(lit(1)).cast("long").as("exact"))
        .orderBy(col("exact").desc, col("v")).limit(20)
      top.join(graft.ops.Cms.probe(top.select("v"), sketch, 4, 1024), Seq("v"))
        .select(col("v").as("tok"), col("exact"), col("est"))
        .orderBy(col("tok"))
    },
    s"""WITH t AS (SELECT unnest($TOKS) AS v FROM documents
       |  WHERE doc_id % 3 < 2),
       |tf AS (SELECT v FROM t WHERE v <> ''),
       |ex AS (SELECT v, CAST(count(*) AS BIGINT) AS exact FROM tf GROUP BY 1),
       |top AS (SELECT v, exact FROM ex ORDER BY exact DESC, v LIMIT 20),
       |${graft.ops.Cms.oracleCtes("tf", "top", 4, 1024)}
       |SELECT top.v AS tok, top.exact, cms_est.est
       |FROM top JOIN cms_est USING (v) ORDER BY tok""".stripMargin)

  /** Total-variation drift vs the histogram store
    * ([[graft.ops.Stats.tvdDriftFromStore]]): the L1 mass-displacement
    * complement to [[qKsDriftStored]]'s sup, and the drift statistic
    * that is an ORDER-FREE integer sum end-to-end (chi-square/PSI need
    * per-bucket divisions/logs — banned or order-dependent). Same
    * store, same biased 'zh' batch. */
  val qTvdStored: Q = "q_tvd_stored" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
      val store = codebookPath(d, "ks_ref_hist")
      (0 to 1).foreach { k =>
        graft.ops.Quantiles.storeAppend(
          docs.filter(col("doc_id") % 3 === k)
            .select(Text.tokenCount(col("text")).cast("long").as("v")),
          store, s"b$k", "v", 8L)
      }
      val batch = docs.filter(col("lang") === "zh")
        .select(Text.tokenCount(col("text")).cast("long").as("v"))
      graft.ops.Stats.tvdDriftFromStore(s, store, batch, "v", 8L, 1L, 10L)
    },
    s"""WITH ref AS (SELECT CAST(len($TOKS) AS BIGINT) // 8 AS bucket,
       |    CAST(count(*) AS BIGINT) AS cr
       |  FROM documents WHERE doc_id % 3 IN (0, 1) GROUP BY 1),
       |bt AS (SELECT CAST(len($TOKS) AS BIGINT) // 8 AS bucket,
       |    CAST(count(*) AS BIGINT) AS cb
       |  FROM documents WHERE lang = 'zh' GROUP BY 1),
       |j AS (SELECT COALESCE(ref.bucket, bt.bucket) AS bucket,
       |    COALESCE(cr, 0) AS cr, COALESCE(cb, 0) AS cb
       |  FROM ref FULL OUTER JOIN bt ON ref.bucket = bt.bucket),
       |tt AS (SELECT COALESCE(CAST(sum(cr) AS BIGINT), 0) AS n_ref,
       |    COALESCE(CAST(sum(cb) AS BIGINT), 0) AS n_batch FROM j),
       |ag AS (SELECT n_ref, n_batch,
       |    COALESCE(CAST(sum(abs(CAST(CAST(cr AS DECIMAL(19,0))
       |      * CAST(n_batch AS DECIMAL(19,0)) AS DECIMAL(38,0))
       |      - CAST(CAST(cb AS DECIMAL(19,0)) * CAST(n_ref AS DECIMAL(19,0))
       |      AS DECIMAL(38,0)))) AS DECIMAL(38,0)),
       |      CAST(0 AS DECIMAL(38,0))) AS tvd_dec
       |  FROM j, tt GROUP BY n_ref, n_batch)
       |SELECT n_ref, n_batch, CAST(tvd_dec AS BIGINT) AS tvd_num,
       |  2 * n_ref * n_batch AS tvd_den,
       |  CASE WHEN n_ref = 0 OR n_batch = 0 THEN NULL
       |    ELSE CAST(tvd_dec AS DOUBLE)
       |      / CAST(2 * n_ref * n_batch AS DOUBLE) END AS tvd,
       |  CASE WHEN n_ref = 0 OR n_batch = 0 THEN NULL
       |    ELSE CAST(tvd_dec AS BIGINT) * 10 > 1 * (2 * n_ref * n_batch)
       |  END AS drift
       |FROM ag""".stripMargin)

  /** PER-SOURCE KS drift ([[graft.ops.Stats.ksDriftFromStoreBy]]):
    * one verdict per source from the maintained per-source histogram
    * store — the multi-feed ingest gate. Reference = two doc slices
    * per source; batch = the third slice (same distribution →
    * everything should pass at the 1/10 threshold, per source). */
  val qKsDriftBy: Q = "q_ks_drift_by" -> (
    (s: SparkSession, d: String) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          Text.tokenCount(col("text")).cast("long").as("v"))
      val store = codebookPath(d, "hist_drift_src")
      (0 to 1).foreach { k =>
        graft.ops.Quantiles.storeAppendBy(
          docs.filter(col("doc_id") % 3 === k), store, s"b$k",
          Seq("source"), "v", 8L)
      }
      val batch = docs.filter(col("doc_id") % 3 === 2)
      graft.ops.Stats.ksDriftFromStoreBy(s, store, Seq("source"), batch,
          "v", 8L, 1L, 10L)
        .orderBy(col("source"))
    },
    s"""WITH ref AS (SELECT source, CAST(len($TOKS) AS BIGINT) // 8 AS bucket,
       |    CAST(count(*) AS BIGINT) AS cr
       |  FROM documents WHERE doc_id % 3 IN (0, 1) GROUP BY 1, 2),
       |bt AS (SELECT source, CAST(len($TOKS) AS BIGINT) // 8 AS bucket,
       |    CAST(count(*) AS BIGINT) AS cb
       |  FROM documents WHERE doc_id % 3 = 2 GROUP BY 1, 2),
       |j AS (SELECT COALESCE(ref.source, bt.source) AS source,
       |    COALESCE(ref.bucket, bt.bucket) AS bucket,
       |    COALESCE(cr, 0) AS cr, COALESCE(cb, 0) AS cb
       |  FROM ref FULL OUTER JOIN bt
       |    ON ref.source = bt.source AND ref.bucket = bt.bucket),
       |cw AS (SELECT source, bucket,
       |    CAST(sum(cr) OVER (PARTITION BY source ORDER BY bucket)
       |      AS BIGINT) AS cum_r,
       |    CAST(sum(cb) OVER (PARTITION BY source ORDER BY bucket)
       |      AS BIGINT) AS cum_b,
       |    CAST(sum(cr) OVER (PARTITION BY source) AS BIGINT) AS n_ref,
       |    CAST(sum(cb) OVER (PARTITION BY source) AS BIGINT) AS n_batch
       |  FROM j),
       |dd AS (SELECT source, bucket, n_ref, n_batch,
       |    abs(cum_r * n_batch - cum_b * n_ref) AS diff_num FROM cw),
       |top AS (SELECT source, n_ref, n_batch,
       |    CAST(diff_num AS BIGINT) AS ks_num, bucket AS at_bucket,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY diff_num DESC, bucket ASC) AS rk
       |  FROM dd)
       |SELECT source, n_ref, n_batch, ks_num, n_ref * n_batch AS ks_den,
       |  CASE WHEN n_ref = 0 OR n_batch = 0 THEN NULL
       |    ELSE CAST(ks_num AS DOUBLE)
       |      / CAST(n_ref * n_batch AS DOUBLE) END AS d,
       |  at_bucket,
       |  CASE WHEN n_ref = 0 OR n_batch = 0 THEN NULL
       |    ELSE ks_num * 10 > 1 * (n_ref * n_batch) END AS drift
       |FROM top WHERE rk = 1 ORDER BY source""".stripMargin)

  /** Post-stratified readout ([[graft.ops.Abtest.stratifiedReadout]])
    * over three hash strata: the categorical-covariate variance
    * reducer next to [[qCuped]]'s continuous one — deterministic
    * stratum fold over the declared order, mirrored verbatim. */
  val qAbStratified: Q = "q_ab_stratified" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Abtest.stratifiedReadout(Tables.events(s, d), "user_id",
        "event_type = 'purchase' AND value > 110",
        "concat('s', user_id % 3)", Seq("s0", "s1", "s2"), salt = "exp1"),
    {
      val gs = Seq("s0", "s1", "s2")
      val aggs = gs.map(g =>
        s"""COALESCE(CAST(sum(CASE WHEN st = '$g' AND variant = 0
           |      THEN 1 ELSE 0 END) AS BIGINT), 0) AS na_$g,
           |    COALESCE(CAST(sum(CASE WHEN st = '$g' AND variant = 0
           |      THEN converted ELSE 0 END) AS BIGINT), 0) AS ca_$g,
           |    COALESCE(CAST(sum(CASE WHEN st = '$g' AND variant = 1
           |      THEN 1 ELSE 0 END) AS BIGINT), 0) AS nb_$g,
           |    COALESCE(CAST(sum(CASE WHEN st = '$g' AND variant = 1
           |      THEN converted ELSE 0 END) AS BIGINT), 0) AS cb_$g"""
          .stripMargin).mkString(",\n|    ")
      val nA = gs.map(g => s"na_$g").mkString(" + ")
      val nB = gs.map(g => s"nb_$g").mkString(" + ")
      val cA = gs.map(g => s"ca_$g").mkString(" + ")
      val cB = gs.map(g => s"cb_$g").mkString(" + ")
      val nD = s"CAST($nA + $nB AS DOUBLE)"
      def w(g: String) = s"(CAST(na_$g + nb_$g AS DOUBLE) / $nD)"
      def pA(g: String) = s"(CAST(ca_$g AS DOUBLE) / CAST(na_$g AS DOUBLE))"
      def pB(g: String) = s"(CAST(cb_$g AS DOUBLE) / CAST(nb_$g AS DOUBLE))"
      val liftPost = gs.map(g => s"${w(g)} * (${pB(g)} - ${pA(g)})")
        .mkString(" + ")
      val varPost = gs.map(g =>
        s"""${w(g)} * ${w(g)} * (${pA(g)} * (1.0 - ${pA(g)})
           | / CAST(na_$g AS DOUBLE) + ${pB(g)} * (1.0 - ${pB(g)})
           | / CAST(nb_$g AS DOUBLE))""".stripMargin.replace("\n", ""))
        .mkString(" + ")
      val anyEmpty = gs.map(g => s"na_$g = 0 OR nb_$g = 0").mkString(" OR ")
      s"""WITH $EV,
         |un AS (SELECT user_id AS unit,
         |    max(CASE WHEN event_type = 'purchase' AND value > 110
         |      THEN 1 ELSE 0 END) AS converted,
         |    min('s' || CAST(user_id % 3 AS VARCHAR)) AS st
         |  FROM ev GROUP BY 1),
         |va AS (SELECT converted, st,
         |    CAST('0x' || substr(md5(CAST(unit AS VARCHAR) || 'exp1'), 1, 7)
         |      AS BIGINT) % 2 AS variant FROM un),
         |ag AS (SELECT
         |    COALESCE(CAST(sum(CASE WHEN st IS NULL
         |      OR st NOT IN ('s0', 's1', 's2') THEN 1 ELSE 0 END)
         |      AS BIGINT), 0) AS n_other,
         |    $aggs
         |  FROM va)
         |SELECT $nA AS n_a, $nB AS n_b, n_other,
         |  $cA AS conv_a, $cB AS conv_b,
         |  CASE WHEN $nA = 0 OR $nB = 0 THEN NULL
         |    ELSE CAST($cB AS DOUBLE) / CAST($nB AS DOUBLE)
         |      - CAST($cA AS DOUBLE) / CAST($nA AS DOUBLE) END AS lift_raw,
         |  CASE WHEN $anyEmpty THEN NULL ELSE $liftPost END AS lift_post,
         |  CASE WHEN $anyEmpty THEN NULL
         |    ELSE CASE WHEN ($varPost) = 0.0 THEN NULL
         |      ELSE ($liftPost) / sqrt($varPost) END END AS z_post
         |FROM ag""".stripMargin
    })

  /** Quantile treatment effects ([[graft.ops.Abtest.quantileLift]]):
    * per-arm EXACT bucketed p50/p90/p99 of per-user spend and their
    * differences — the heavy-tail readout where the mean lift is one
    * whale's noise; integers end to end at bucket resolution. */
  val qQte: Q = "q_qte" -> (
    (s: SparkSession, d: String) => {
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      graft.ops.Abtest.quantileLift(
          Tables.events(s, d).select(col("user_id"), cents.as("cents")),
          "user_id", "cents", salt = "exp13", bucketWidth = 1000L,
          qs = Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
        .orderBy(col("p_label"))
    },
    s"""WITH $EV,
       |un AS (SELECT user_id AS unit,
       |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
       |      AS BIGINT) AS v
       |  FROM ev GROUP BY 1),
       |src AS (SELECT CAST('0x' || substr(md5(CAST(unit AS VARCHAR)
       |    || 'exp13'), 1, 7) AS BIGINT) % 2 AS variant, v FROM un),
       |${graft.ops.Quantiles.oracleCtesBy("src", Seq("variant"),
            Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)), 1000L)},
       |qa AS (SELECT p_label, target AS target_a, lo AS lo_a FROM hq
       |  WHERE variant = 0),
       |qb AS (SELECT p_label, target AS target_b, lo AS lo_b FROM hq
       |  WHERE variant = 1)
       |SELECT COALESCE(qa.p_label, qb.p_label) AS p_label,
       |  target_a, lo_a, target_b, lo_b, lo_b - lo_a AS qte
       |FROM qa FULL OUTER JOIN qb ON qa.p_label = qb.p_label
       |ORDER BY p_label""".stripMargin)

  /** Welch-t continuous-metric readout
    * ([[graft.ops.Abtest.meanReadout]]): per-user spend lift with the
    * unequal-variance t and Welch–Satterthwaite df — the significance
    * card [[qCuped]]'s lift_raw lacks; DECIMAL-exact per-arm variances,
    * deterministic doubles mirrored verbatim. */
  val qAbMean: Q = "q_ab_mean" -> (
    (s: SparkSession, d: String) => {
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      graft.ops.Abtest.meanReadout(
        Tables.events(s, d).select(col("user_id"), cents.as("cents")),
        "user_id", "cents", salt = "exp13")
    },
    {
      def vr(s: String) =
        s"""(CAST(CAST(CAST(CAST(n_$s AS DECIMAL(19,0)) * syy_$s
           | AS DECIMAL(38,0)) - CAST(CAST(sy_$s AS DECIMAL(19,0))
           | * CAST(sy_$s AS DECIMAL(19,0)) AS DECIMAL(38,0))
           | AS DECIMAL(38,0)) AS DOUBLE)
           | / (CAST(n_$s AS DOUBLE) * CAST(n_$s - 1 AS DOUBLE)))"""
          .stripMargin.replace("\n", "")
      val ua = s"(${vr("a")} / CAST(n_a AS DOUBLE))"
      val ub = s"(${vr("b")} / CAST(n_b AS DOUBLE))"
      val mA = "(CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE))"
      val mB = "(CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE))"
      val tiny = "n_a = 0 OR n_b = 0 OR n_a < 2 OR n_b < 2"
      s"""WITH $EV,
         |un AS (SELECT user_id AS unit,
         |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
         |      AS BIGINT) AS y
         |  FROM ev GROUP BY 1),
         |va AS (SELECT y, CAST('0x' || substr(md5(CAST(unit AS VARCHAR)
         |    || 'exp13'), 1, 7) AS BIGINT) % 2 AS variant FROM un),
         |ag AS (SELECT
         |    COALESCE(CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT), 0) AS n_a,
         |    COALESCE(CAST(sum(CASE WHEN variant = 0 THEN y ELSE 0 END)
         |      AS BIGINT), 0) AS sy_a,
         |    COALESCE(CAST(sum(CASE WHEN variant = 0
         |      THEN CAST(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))
         |        AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END)
         |      AS DECIMAL(38,0)), CAST(0 AS DECIMAL(38,0))) AS syy_a,
         |    COALESCE(CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT), 0) AS n_b,
         |    COALESCE(CAST(sum(CASE WHEN variant = 1 THEN y ELSE 0 END)
         |      AS BIGINT), 0) AS sy_b,
         |    COALESCE(CAST(sum(CASE WHEN variant = 1
         |      THEN CAST(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))
         |        AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END)
         |      AS DECIMAL(38,0)), CAST(0 AS DECIMAL(38,0))) AS syy_b
         |  FROM va)
         |SELECT n_a, n_b, sy_a, sy_b,
         |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL ELSE $mA END AS mean_a,
         |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL ELSE $mB END AS mean_b,
         |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
         |    ELSE $mB - $mA END AS lift,
         |  CASE WHEN $tiny THEN NULL
         |    ELSE CASE WHEN $ua + $ub <= 0.0 THEN NULL
         |      ELSE ($mB - $mA) / sqrt($ua + $ub) END END AS t_welch,
         |  CASE WHEN $tiny THEN NULL
         |    ELSE CASE WHEN $ua + $ub <= 0.0 THEN NULL
         |      ELSE ($ua + $ub) * ($ua + $ub)
         |        / ($ua * $ua / (CAST(n_a AS DOUBLE) - 1.0)
         |          + $ub * $ub / (CAST(n_b AS DOUBLE) - 1.0)) END
         |    END AS df_welch
         |FROM ag""".stripMargin
    })

  /** [[qAbMean]] read off the ADDITIVE experiment store (three
    * user-disjoint slices): per-arm n/Σy/Σy² add across batches, so
    * the live continuous-metric dashboard equals the one-shot Welch
    * card bit-for-bit — the oracle is [[qAbMean]]'s verbatim. */
  val qAbMeanStored: Q = "q_ab_mean_stored" -> (
    (s: SparkSession, d: String) => {
      // SHARED STORE with q_ab_mean_trace/q_ab_mean_boundary: the
      // append parameters here MUST stay identical to those sites
      // (marker-gated appendCommit keeps the first writer's content).
      val store = codebookPath(d, "ab_mean_store")
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      val ev = Tables.events(s, d).select(col("user_id"), cents.as("cents"))
      (0 to 2).foreach { k =>
        graft.ops.Abtest.momentsStoreAppend(
          ev.filter(pmod(col("user_id"), lit(3)) === k), store, s"b$k",
          "user_id", "false", "cents", "0", salt = "exp13")
      }
      graft.ops.Abtest.meanReadoutFromStore(s, store)
    },
    qAbMean._2._2)

  /** Group-sequential monitoring trace
    * ([[graft.ops.Abtest.readoutTrace]]): the dashboard's HISTORY —
    * one cumulative readout per batch tag, from the model-sized store
    * alone. The oracle recomputes each prefix readout from raw events
    * and unions them: hash equality certifies every prefix row equals
    * its as-of read. */
  val qAbTrace: Q = "q_ab_trace" -> (
    (s: SparkSession, d: String) => {
      // SHARED STORE with q_ab_stored/q_srm_stored/q_ab_boundary: the
      // append parameters here MUST stay identical to those sites
      // (marker-gated appendCommit keeps the first writer's content).
      val store = codebookPath(d, "ab_store")
      val ev = Tables.events(s, d)
      (0 to 2).foreach { k =>
        graft.ops.Abtest.momentsStoreAppend(
          ev.filter(pmod(col("user_id"), lit(3)) === k), store, s"b$k",
          "user_id", "event_type = 'purchase' AND value > 110",
          "0", "0", salt = "exp1")
      }
      graft.ops.Abtest.readoutTrace(s, store)
        .select(col("tag"), col("n_a"), col("conv_a"), col("n_b"),
          col("conv_b"),
          round(col("rate_a"), 9).as("rate_a"),
          round(col("rate_b"), 9).as("rate_b"),
          round(col("lift"), 9).as("lift"), round(col("z"), 6).as("z"))
        .orderBy(col("tag"))
    },
    {
      val blocks = (0 to 2).map { k =>
        s"""ag$k AS (SELECT 'b$k' AS tag,
           |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_a,
           |    CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END)
           |      AS BIGINT) AS conv_a,
           |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_b,
           |    CAST(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END)
           |      AS BIGINT) AS conv_b
           |  FROM va WHERE m3 <= $k)""".stripMargin
      }.mkString(",\n|")
      val pP = "(CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))"
      val rA = "(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))"
      val rB = "(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))"
      s"""WITH $EV,
         |un AS (SELECT user_id AS unit, user_id % 3 AS m3,
         |    max(CASE WHEN event_type = 'purchase' AND value > 110
         |      THEN 1 ELSE 0 END) AS converted
         |  FROM ev GROUP BY 1, 2),
         |va AS (SELECT m3, converted,
         |    CAST('0x' || substr(md5(CAST(unit AS VARCHAR) || 'exp1'), 1, 7)
         |      AS BIGINT) % 2 AS variant FROM un),
         |$blocks,
         |uu AS (SELECT * FROM ag0 UNION ALL SELECT * FROM ag1
         |  UNION ALL SELECT * FROM ag2)
         |SELECT tag, n_a, conv_a, n_b, conv_b,
         |  round(CASE WHEN n_a = 0 OR n_b = 0 THEN NULL ELSE $rA END, 9)
         |    AS rate_a,
         |  round(CASE WHEN n_a = 0 OR n_b = 0 THEN NULL ELSE $rB END, 9)
         |    AS rate_b,
         |  round(CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
         |    ELSE $rB - $rA END, 9) AS lift,
         |  round(CASE WHEN n_a = 0 OR n_b = 0 OR $pP = 0.0 OR $pP = 1.0
         |      THEN NULL
         |    ELSE ($rB - $rA) / sqrt($pP * (1.0 - $pP)
         |      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
         |    END, 6) AS z
         |FROM uu ORDER BY tag""".stripMargin
    })

  /** [[qQte]] read off a MAINTAINED per-arm histogram store
    * ([[graft.ops.Abtest.quantileLiftStoreAppend]], three
    * user-disjoint slices — the experiment store's unit-partitioning
    * contract): per-(arm, bucket) counts add across batches, so the
    * stored QTE equals the one-shot by histogram additivity and the
    * oracle is [[qQte]]'s verbatim. Closes the one experiment card
    * that re-scanned raw events per read. */
  val qQteStored: Q = "q_qte_stored" -> (
    (s: SparkSession, d: String) => {
      // SHARED STORE with q_qte_asof/q_qte_trace: append parameters
      // MUST stay identical there (marker-gated appendCommit keeps the
      // first writer's content).
      val store = codebookPath(d, "qte_store")
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      val ev = Tables.events(s, d).select(col("user_id"), cents.as("cents"))
      (0 to 2).foreach { k =>
        graft.ops.Abtest.quantileLiftStoreAppend(
          ev.filter(pmod(col("user_id"), lit(3)) === k), store, s"b$k",
          "user_id", "cents", salt = "exp13", bucketWidth = 1000L)
      }
      graft.ops.Abtest.quantileLiftFromStore(s, store, 1000L,
          qs = Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
        .orderBy(col("p_label"))
    },
    qQte._2._2)

  /** The QTE card's TIME-TRAVEL read
    * ([[graft.ops.Abtest.quantileLiftFromStoreAsOf]]) at the second
    * batch tag: what the heavy-tail dashboard showed before the third
    * slice arrived. Oracle: the one-shot QTE over the first two
    * user-disjoint slices. */
  val qQteAsof: Q = "q_qte_asof" -> (
    (s: SparkSession, d: String) => {
      // SHARED STORE with q_qte_stored/q_qte_trace: append parameters
      // MUST stay identical there.
      val store = codebookPath(d, "qte_store")
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      val ev = Tables.events(s, d).select(col("user_id"), cents.as("cents"))
      (0 to 2).foreach { k =>
        graft.ops.Abtest.quantileLiftStoreAppend(
          ev.filter(pmod(col("user_id"), lit(3)) === k), store, s"b$k",
          "user_id", "cents", salt = "exp13", bucketWidth = 1000L)
      }
      graft.ops.Abtest.quantileLiftFromStoreAsOf(s, store, asOfTag = "b1",
          bucketWidth = 1000L,
          qs = Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
        .orderBy(col("p_label"))
    },
    s"""WITH $EV,
       |un AS (SELECT user_id AS unit,
       |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
       |      AS BIGINT) AS v
       |  FROM ev WHERE user_id % 3 IN (0, 1) GROUP BY 1),
       |src AS (SELECT CAST('0x' || substr(md5(CAST(unit AS VARCHAR)
       |    || 'exp13'), 1, 7) AS BIGINT) % 2 AS variant, v FROM un),
       |${graft.ops.Quantiles.oracleCtesBy("src", Seq("variant"),
            Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)), 1000L)},
       |qa AS (SELECT p_label, target AS target_a, lo AS lo_a FROM hq
       |  WHERE variant = 0),
       |qb AS (SELECT p_label, target AS target_b, lo AS lo_b FROM hq
       |  WHERE variant = 1)
       |SELECT COALESCE(qa.p_label, qb.p_label) AS p_label,
       |  target_a, lo_a, target_b, lo_b, lo_b - lo_a AS qte
       |FROM qa FULL OUTER JOIN qb ON qa.p_label = qb.p_label
       |ORDER BY p_label""".stripMargin)

  /** CONTINUOUS-metric monitoring trace
    * ([[graft.ops.Abtest.meanReadoutTrace]]): one cumulative Welch-t
    * readout per batch tag off the same moment store as
    * [[qAbMeanStored]] — [[qAbTrace]]'s twin for revenue-style
    * outcomes. The oracle recomputes each prefix Welch card from raw
    * events and unions them: hash equality certifies every trace row
    * equals its [[graft.ops.Abtest.meanReadoutFromStoreAsOf]] read. */
  val qAbMeanTrace: Q = "q_ab_mean_trace" -> (
    (s: SparkSession, d: String) => {
      // SHARED STORE with q_ab_mean_stored/q_ab_mean_boundary: the
      // append parameters here MUST stay identical to those sites
      // (marker-gated appendCommit keeps the first writer's content).
      val store = codebookPath(d, "ab_mean_store")
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      val ev = Tables.events(s, d).select(col("user_id"), cents.as("cents"))
      (0 to 2).foreach { k =>
        graft.ops.Abtest.momentsStoreAppend(
          ev.filter(pmod(col("user_id"), lit(3)) === k), store, s"b$k",
          "user_id", "false", "cents", "0", salt = "exp13")
      }
      graft.ops.Abtest.meanReadoutTrace(s, store).orderBy(col("tag"))
    },
    {
      def vr(s: String) =
        s"""(CAST(CAST(CAST(CAST(n_$s AS DECIMAL(19,0)) * syy_$s
           | AS DECIMAL(38,0)) - CAST(CAST(sy_$s AS DECIMAL(19,0))
           | * CAST(sy_$s AS DECIMAL(19,0)) AS DECIMAL(38,0))
           | AS DECIMAL(38,0)) AS DOUBLE)
           | / (CAST(n_$s AS DOUBLE) * CAST(n_$s - 1 AS DOUBLE)))"""
          .stripMargin.replace("\n", "")
      val ua = s"(${vr("a")} / CAST(n_a AS DOUBLE))"
      val ub = s"(${vr("b")} / CAST(n_b AS DOUBLE))"
      val mA = "(CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE))"
      val mB = "(CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE))"
      val tiny = "n_a = 0 OR n_b = 0 OR n_a < 2 OR n_b < 2"
      val blocks = (0 to 2).map { k =>
        s"""ag$k AS (SELECT 'b$k' AS tag,
           |    COALESCE(CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)
           |      AS BIGINT), 0) AS n_a,
           |    COALESCE(CAST(sum(CASE WHEN variant = 0 THEN y ELSE 0 END)
           |      AS BIGINT), 0) AS sy_a,
           |    COALESCE(CAST(sum(CASE WHEN variant = 0
           |      THEN CAST(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))
           |        AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END)
           |      AS DECIMAL(38,0)), CAST(0 AS DECIMAL(38,0))) AS syy_a,
           |    COALESCE(CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END)
           |      AS BIGINT), 0) AS n_b,
           |    COALESCE(CAST(sum(CASE WHEN variant = 1 THEN y ELSE 0 END)
           |      AS BIGINT), 0) AS sy_b,
           |    COALESCE(CAST(sum(CASE WHEN variant = 1
           |      THEN CAST(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))
           |        AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END)
           |      AS DECIMAL(38,0)), CAST(0 AS DECIMAL(38,0))) AS syy_b
           |  FROM va WHERE m3 <= $k)""".stripMargin
      }.mkString(",\n|")
      s"""WITH $EV,
         |un AS (SELECT user_id AS unit, user_id % 3 AS m3,
         |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
         |      AS BIGINT) AS y
         |  FROM ev GROUP BY 1, 2),
         |va AS (SELECT m3, y, CAST('0x' || substr(md5(CAST(unit AS VARCHAR)
         |    || 'exp13'), 1, 7) AS BIGINT) % 2 AS variant FROM un),
         |$blocks,
         |uu AS (SELECT * FROM ag0 UNION ALL SELECT * FROM ag1
         |  UNION ALL SELECT * FROM ag2)
         |SELECT tag, n_a, n_b, sy_a, sy_b,
         |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL ELSE $mA END AS mean_a,
         |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL ELSE $mB END AS mean_b,
         |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
         |    ELSE $mB - $mA END AS lift,
         |  CASE WHEN $tiny THEN NULL
         |    ELSE CASE WHEN $ua + $ub <= 0.0 THEN NULL
         |      ELSE ($mB - $mA) / sqrt($ua + $ub) END END AS t_welch,
         |  CASE WHEN $tiny THEN NULL
         |    ELSE CASE WHEN $ua + $ub <= 0.0 THEN NULL
         |      ELSE ($ua + $ub) * ($ua + $ub)
         |        / ($ua * $ua / (CAST(n_a AS DOUBLE) - 1.0)
         |          + $ub * $ub / (CAST(n_b AS DOUBLE) - 1.0)) END
         |    END AS df_welch
         |FROM uu ORDER BY tag""".stripMargin
    })

  /** Alpha-spending sequential decision boundary
    * ([[graft.ops.Abtest.boundaryTrace]], O'Brien–Fleming literal
    * bounds for 3 planned looks): joins [[qAbTrace]]'s monitoring
    * trace with the per-look |z| bound and emits crossed/stopped per
    * tag — the peeking-correct verdict the raw trace invites readers
    * to skip. Oracle replays the trace and the literal bound table. */
  val qAbBoundary: Q = "q_ab_boundary" -> (
    (s: SparkSession, d: String) => {
      // SHARED STORE with q_ab_stored/q_srm_stored/q_ab_trace: the
      // append parameters here MUST stay identical to those sites
      // (marker-gated appendCommit keeps the first writer's content).
      val store = codebookPath(d, "ab_store")
      val ev = Tables.events(s, d)
      (0 to 2).foreach { k =>
        graft.ops.Abtest.momentsStoreAppend(
          ev.filter(pmod(col("user_id"), lit(3)) === k), store, s"b$k",
          "user_id", "event_type = 'purchase' AND value > 110",
          "0", "0", salt = "exp1")
      }
      graft.ops.Abtest.boundaryTrace(s, store).orderBy(col("tag"))
    },
    {
      val blocks = (0 to 2).map { k =>
        s"""ag$k AS (SELECT 'b$k' AS tag,
           |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_a,
           |    CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END)
           |      AS BIGINT) AS conv_a,
           |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_b,
           |    CAST(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END)
           |      AS BIGINT) AS conv_b
           |  FROM va WHERE m3 <= $k)""".stripMargin
      }.mkString(",\n|")
      val pP = "(CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))"
      val rA = "(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))"
      val rB = "(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))"
      s"""WITH $EV,
         |un AS (SELECT user_id AS unit, user_id % 3 AS m3,
         |    max(CASE WHEN event_type = 'purchase' AND value > 110
         |      THEN 1 ELSE 0 END) AS converted
         |  FROM ev GROUP BY 1, 2),
         |va AS (SELECT m3, converted,
         |    CAST('0x' || substr(md5(CAST(unit AS VARCHAR) || 'exp1'), 1, 7)
         |      AS BIGINT) % 2 AS variant FROM un),
         |$blocks,
         |uu AS (SELECT * FROM ag0 UNION ALL SELECT * FROM ag1
         |  UNION ALL SELECT * FROM ag2),
         |tz AS (SELECT tag, n_a, conv_a, n_b, conv_b,
         |    round(CASE WHEN n_a = 0 OR n_b = 0 OR $pP = 0.0 OR $pP = 1.0
         |        THEN NULL
         |      ELSE ($rB - $rA) / sqrt($pP * (1.0 - $pP)
         |        * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
         |      END, 6) AS z
         |  FROM uu),
         |lk AS (SELECT *, row_number() OVER (ORDER BY tag) AS look FROM tz),
         |bd AS (SELECT *, CASE WHEN look = 1 THEN 3.471
         |    WHEN look = 2 THEN 2.454 WHEN look = 3 THEN 2.004 END AS z_bound
         |  FROM lk),
         |cr AS (SELECT *, CASE WHEN z IS NULL THEN NULL
         |    ELSE abs(z) >= z_bound END AS crossed FROM bd)
         |SELECT tag, look, n_a, conv_a, n_b, conv_b, z, z_bound, crossed,
         |  max(CASE WHEN COALESCE(crossed, false) THEN 1 ELSE 0 END)
         |    OVER (ORDER BY tag ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND CURRENT ROW) = 1 AS stopped
         |FROM cr ORDER BY tag""".stripMargin
    })

  /** URL canonicalization ([[graft.ops.Web]]): the crawl-curation step
    * BEFORE per-domain caps and URL-level dedup — synthesized crawl
    * URLs (both engines build the identical strings) exercising mixed
    * case, default vs explicit ports, a trailing host dot before the
    * default port, co.uk-class multi-part suffixes, a wildcard-rule
    * ccTLD, dot-segments (`/../`, `/./`), percent triplets (unreserved
    * `%7E`/`%7e`, reserved `%2f`, mixed case), utm_-prefixed and gclid
    * tracking params, shuffled query order, and fragments; the
    * canonical form and registrable domain must match DuckDB's
    * string-op replay byte-for-byte. Map-only — no shuffle. */
  val qUrlCanon: Q = "q_url_canon" -> (
    (s: SparkSession, d: String) => {
      val id = col("doc_id")
      val hostPick = element_at(array(
        lit("News.Example.co.uk"), lit("a.example.com"),
        lit("example.com.:443"), lit("sub.shop.example.com.au"),
        lit("example.org:8080"), lit("shop.acme.ck"),
        lit("mail.www.ck")), (pmod(id, lit(7)) + 1).cast("int"))
      val segPick = element_at(array(
        lit(""), lit("a/../"), lit("./"), lit("%7Ex/"), lit("%7ex/"),
        lit("b%2fc/")), (pmod(id, lit(6)) + 1).cast("int"))
      val url = concat(
        when(pmod(id, lit(2)) === 0, lit("https://"))
          .otherwise(lit("HTTP://")),
        hostPick,
        lit("/p/"), segPick, pmod(id, lit(50)).cast("string"),
        lit("?b="), pmod(id, lit(7)).cast("string"),
        lit("&utm_source=feed&a="), pmod(id, lit(3)).cast("string"),
        when(pmod(id, lit(4)) === 0, lit("&gclid=xyz")).otherwise(lit("")),
        lit("#frag"))
      Tables.documents(s, d)
        .select(id, url.as("url"))
        .select(col("doc_id"), col("url"),
          graft.ops.Web.canonicalUrl(col("url")).as("canon"),
          graft.ops.Web.registrableDomain(col("url")).as("domain"))
        .orderBy(col("doc_id"))
    },
    {
      val urlSql =
        """(CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END)
          | || (CASE doc_id % 7 WHEN 0 THEN 'News.Example.co.uk'
          |   WHEN 1 THEN 'a.example.com' WHEN 2 THEN 'example.com.:443'
          |   WHEN 3 THEN 'sub.shop.example.com.au'
          |   WHEN 4 THEN 'example.org:8080' WHEN 5 THEN 'shop.acme.ck'
          |   ELSE 'mail.www.ck' END)
          | || '/p/' || (CASE doc_id % 6 WHEN 0 THEN ''
          |   WHEN 1 THEN 'a/../' WHEN 2 THEN './' WHEN 3 THEN '%7Ex/'
          |   WHEN 4 THEN '%7ex/' ELSE 'b%2fc/' END)
          | || CAST(doc_id % 50 AS VARCHAR)
          | || '?b=' || CAST(doc_id % 7 AS VARCHAR)
          | || '&utm_source=feed&a=' || CAST(doc_id % 3 AS VARCHAR)
          | || (CASE WHEN doc_id % 4 = 0 THEN '&gclid=xyz' ELSE '' END)
          | || '#frag'""".stripMargin.replace("\n", "")
      s"""WITH u AS (SELECT doc_id, $urlSql AS url FROM documents)
         |SELECT doc_id, url,
         |  ${graft.ops.Web.canonicalUrlSql("url")} AS canon,
         |  ${graft.ops.Web.registrableDomainSql(graft.ops.Web.hostSql("url"))}
         |    AS domain
         |FROM u ORDER BY doc_id""".stripMargin
    })

  /** Canonical-URL EXACT dedup feeding the curation chain
    * ([[graft.ops.Web.canonicalUrl]] → md5-groupBy, the [[qDedupExact]]
    * path): same synthesized crawl as [[qUrlCanon]], where distinct
    * doc_ids alias to one page once tracking params and query order
    * are normalized — per canonical URL keep the smallest doc_id and
    * count the crawl duplicates, with the registrable domain as the
    * downstream cap key. One hash aggregation on the canonical
    * string. */
  val qUrlDedup: Q = "q_url_dedup" -> (
    (s: SparkSession, d: String) => {
      val id = col("doc_id")
      val hostPick = element_at(array(
        lit("News.Example.co.uk"), lit("a.example.com"),
        lit("example.com:443"), lit("sub.shop.example.com.au"),
        lit("example.org:8080")), (pmod(id, lit(5)) + 1).cast("int"))
      val url = concat(
        when(pmod(id, lit(2)) === 0, lit("https://"))
          .otherwise(lit("HTTP://")),
        hostPick,
        lit("/p/"),
        element_at(array(lit(""), lit("a/../"), lit("./")),
          (pmod(id, lit(3)) + 1).cast("int")),
        pmod(id, lit(25)).cast("string"),
        lit("?b="), pmod(id, lit(5)).cast("string"),
        lit("&utm_source=feed&a="), pmod(id, lit(3)).cast("string"),
        when(pmod(id, lit(4)) === 0, lit("&gclid=xyz")).otherwise(lit("")),
        lit("#frag"))
      Tables.documents(s, d)
        .select(id, url.as("url"))
        .select(col("doc_id"),
          graft.ops.Web.canonicalUrl(col("url")).as("canon"),
          graft.ops.Web.registrableDomain(col("url")).as("domain"))
        .groupBy(col("canon"), col("domain"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).cast("long").as("n_crawled"))
        .orderBy(col("canon"))
    },
    {
      val urlSql =
        """(CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END)
          | || (CASE doc_id % 5 WHEN 0 THEN 'News.Example.co.uk'
          |   WHEN 1 THEN 'a.example.com' WHEN 2 THEN 'example.com:443'
          |   WHEN 3 THEN 'sub.shop.example.com.au'
          |   ELSE 'example.org:8080' END)
          | || '/p/' || (CASE doc_id % 3 WHEN 0 THEN ''
          |   WHEN 1 THEN 'a/../' ELSE './' END)
          | || CAST(doc_id % 25 AS VARCHAR)
          | || '?b=' || CAST(doc_id % 5 AS VARCHAR)
          | || '&utm_source=feed&a=' || CAST(doc_id % 3 AS VARCHAR)
          | || (CASE WHEN doc_id % 4 = 0 THEN '&gclid=xyz' ELSE '' END)
          | || '#frag'""".stripMargin.replace("\n", "")
      s"""WITH u AS (SELECT doc_id, $urlSql AS url FROM documents),
         |c AS (SELECT doc_id,
         |    ${graft.ops.Web.canonicalUrlSql("url")} AS canon,
         |    ${graft.ops.Web.registrableDomainSql(
                graft.ops.Web.hostSql("url"))} AS domain
         |  FROM u)
         |SELECT canon, domain, CAST(min(doc_id) AS BIGINT) AS keep_id,
         |  CAST(count(*) AS BIGINT) AS n_crawled
         |FROM c GROUP BY 1, 2 ORDER BY canon""".stripMargin
    })

  /** GROUPED Kruskal–Wallis
    * ([[graft.ops.Stats.kruskalWallis]] groupCols overload): one
    * k-group omnibus card per day-of-week segment — completes the
    * drift-triage set the grouped kappa/chi2/lambda/spearman cards
    * started (which segment do the event classes actually differ
    * in?). Same doubled-midrank exact arithmetic per segment, windows
    * partitioned by the segment. */
  /** K-arm CUPED readout ([[graft.ops.Abtest.cupedReadoutK]], k = 4):
    * variance-reduced A/B/n lifts — θ estimated ONCE from the pooled
    * (all-arm) moments, each treatment arm's adjusted lift vs control
    * is (ȳᵢ − ȳ₀) − θ(x̄ᵢ − x̄₀); same decimal-exact moment algebra as
    * [[qCuped]], unrounded doubles under the bit-identity contract. */
  val qAbCupedKarm: Q = "q_ab_cuped_karm" -> (
    (s: SparkSession, d: String) => {
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      val ev = Tables.events(s, d)
        .select(col("user_id"),
          when(expr("(ts_us div 86400000000) % 2") === 1, cents)
            .otherwise(0L).as("y_late"),
          when(expr("(ts_us div 86400000000) % 2") === 0, cents)
            .otherwise(0L).as("x_early"))
      graft.ops.Abtest.cupedReadoutK(ev, "user_id", "y_late", "x_early",
          salt = "cupedk", k = 4)
        .orderBy(col("variant"))
    },
    {
      val mdY = """(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
        | - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE))"""
        .stripMargin.replace("\n", "")
      val mdX = """(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
        | - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE))"""
        .stripMargin.replace("\n", "")
      val noPair = "ar.variant = 0 OR n = 0 OR n0 = 0"
      s"""WITH $EV,
         |un AS (SELECT user_id AS unit,
         |    CAST(sum(CASE WHEN (ts_us // 86400000000) % 2 = 1
         |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
         |      ELSE 0 END) AS BIGINT) AS y,
         |    CAST(sum(CASE WHEN (ts_us // 86400000000) % 2 = 0
         |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
         |      ELSE 0 END) AS BIGINT) AS x
         |  FROM ev GROUP BY 1),
         |va AS (SELECT y, x, CAST('0x' || substr(md5(CAST(unit AS VARCHAR)
         |    || 'cupedk'), 1, 7) AS BIGINT) % 4 AS variant FROM un),
         |ag AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x) AS BIGINT) AS sx,
         |    CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
         |      AS DECIMAL(38,0)) AS sxx,
         |    CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
         |      AS DECIMAL(38,0)) AS sxy,
         |    CAST(sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
         |      AS DECIMAL(38,0)) AS syy
         |  FROM va GROUP BY 1),
         |ax AS (SELECT range AS variant FROM range(4)),
         |ar AS (SELECT ax.variant, COALESCE(n, 0) AS n,
         |    COALESCE(sy, 0) AS sy, COALESCE(sx, 0) AS sx,
         |    COALESCE(sxx, CAST(0 AS DECIMAL(38,0))) AS sxx,
         |    COALESCE(sxy, CAST(0 AS DECIMAL(38,0))) AS sxy,
         |    COALESCE(syy, CAST(0 AS DECIMAL(38,0))) AS syy
         |  FROM ax LEFT JOIN ag ON ax.variant = ag.variant),
         |pl AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
         |    CAST(sum(sy) AS DECIMAL(19,0)) AS sy_p,
         |    CAST(sum(sx) AS DECIMAL(19,0)) AS sx_p,
         |    CAST(sum(sxx) AS DECIMAL(38,0)) AS sxx_p,
         |    CAST(sum(sxy) AS DECIMAL(38,0)) AS sxy_p,
         |    CAST(sum(syy) AS DECIMAL(38,0)) AS syy_p FROM ar),
         |th AS (SELECT
         |    CAST(CAST(nn AS DECIMAL(19,0)) * sxy_p
         |      - CAST(sx_p * sy_p AS DECIMAL(38,0)) AS DECIMAL(38,0))
         |      AS th_num,
         |    CAST(CAST(nn AS DECIMAL(19,0)) * sxx_p
         |      - CAST(sx_p * sx_p AS DECIMAL(38,0)) AS DECIMAL(38,0))
         |      AS th_den,
         |    CAST(CAST(nn AS DECIMAL(19,0)) * syy_p
         |      - CAST(sy_p * sy_p AS DECIMAL(38,0)) AS DECIMAL(38,0))
         |      AS syc FROM pl),
         |ct AS (SELECT n AS n0, sy AS sy0, sx AS sx0 FROM ar
         |  WHERE variant = 0)
         |SELECT ar.variant, ar.n, ar.sy, ar.sx,
         |  CASE WHEN th_den = 0 THEN NULL
         |    ELSE CAST(th_num AS DOUBLE) / CAST(th_den AS DOUBLE) END
         |    AS theta,
         |  CASE WHEN $noPair THEN NULL ELSE $mdY END AS lift_raw,
         |  CASE WHEN $noPair THEN NULL
         |    ELSE CASE WHEN th_den = 0 THEN NULL
         |      ELSE $mdY - CAST(th_num AS DOUBLE) / CAST(th_den AS DOUBLE)
         |        * $mdX END END AS lift_cuped,
         |  CASE WHEN th_den = 0 OR syc = 0 THEN NULL
         |    ELSE CAST(th_num AS DOUBLE) * CAST(th_num AS DOUBLE)
         |      / (CAST(th_den AS DOUBLE) * CAST(syc AS DOUBLE)) END
         |    AS var_reduction
         |FROM ar, th, ct ORDER BY ar.variant""".stripMargin
    })

  /** [[qAbCupedKarm]]'s card off a k = 4 experiment store (three
    * unit-partitioned slices through
    * [[graft.ops.Abtest.momentsStoreAppend]]): the live variance-
    * reduced A/B/n dashboard; additivity makes it the one-shot card
    * bit-for-bit, the oracle is [[qAbCupedKarm]]'s verbatim. */
  val qAbCupedKarmStored: Q = "q_ab_cuped_karm_stored" -> (
    (s: SparkSession, d: String) => {
      val store = codebookPath(d, "ab_cupedk_store")
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      val ev = Tables.events(s, d)
        .select(col("user_id"),
          when(expr("(ts_us div 86400000000) % 2") === 1, cents)
            .otherwise(0L).as("y_late"),
          when(expr("(ts_us div 86400000000) % 2") === 0, cents)
            .otherwise(0L).as("x_early"))
      (0 to 2).foreach { i =>
        graft.ops.Abtest.momentsStoreAppend(
          ev.filter(pmod(col("user_id"), lit(3)) === i), store, s"b$i",
          "user_id", "false", "y_late", "x_early", salt = "cupedk", k = 4)
      }
      graft.ops.Abtest.cupedKFromStore(s, store, k = 4)
        .orderBy(col("variant"))
    },
    qAbCupedKarm._2._2)

  val qKruskalBy: Q = "q_kruskal_by" -> (
    (s: SparkSession, d: String) => {
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      graft.ops.Stats.kruskalWallis(
          Tables.events(s, d).select(
            expr("(ts_us div 86400000000) % 7").as("dow"),
            cents.as("cents"), col("event_type")),
          Seq("dow"), "cents", "event_type",
          Seq("error", "purchase", "view"))
        .orderBy(col("dow"))
    },
    {
      val gs = Seq("error", "purchase", "view")
      val cnts = gs.map(g =>
        s"""CAST(sum(CASE WHEN g = '$g' THEN 1 ELSE 0 END) AS BIGINT)
           | AS cnt_$g""".stripMargin.replace("\n", "")).mkString(",\n|    ")
      val aggs = gs.map(g =>
        s"""COALESCE(CAST(sum(cnt_$g) AS BIGINT), 0) AS n_$g,
           |    COALESCE(CAST(CAST(sum(CAST(cnt_$g AS DECIMAL(19,0))
           |      * CAST(d2 AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS BIGINT), 0)
           |      AS r2_$g""".stripMargin).mkString(",\n|    ")
      val zfill = gs.map(g =>
        s"""COALESCE(n_$g, 0) AS n_$g, COALESCE(r2_$g, 0) AS r2_$g""")
        .mkString(",\n|    ")
      val terms = gs.map(g =>
        s"""CAST(r2_$g AS DOUBLE) * CAST(r2_$g AS DOUBLE)
           | / (4.0 * CAST(n_$g AS DOUBLE))""".stripMargin.replace("\n", ""))
        .mkString(" + ")
      val anyEmpty = gs.map(g => s"n_$g = 0").mkString(" OR ")
      val nD = "CAST(n AS DOUBLE)"
      val h = s"12.0 * ($terms) / ($nD * ($nD + 1.0)) - 3.0 * ($nD + 1.0)"
      val allTied = s"""CAST(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
        | * CAST(n AS DECIMAL(19,0)) - CAST(n AS DECIMAL(19,0))
        | AS DECIMAL(38,0)) = tie_dec""".stripMargin.replace("\n", "")
      val tieFrac = s"CAST(tie_dec AS DOUBLE) / ($nD * $nD * $nD - $nD)"
      s"""WITH $EV,
         |f AS (SELECT (ts_us // 86400000000) % 7 AS dow,
         |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
         |    event_type AS g FROM ev),
         |oth AS (SELECT dow, COALESCE(CAST(sum(CASE WHEN g IS NULL
         |      OR g NOT IN ('error', 'purchase', 'view') THEN 1 ELSE 0 END)
         |    AS BIGINT), 0) AS n_other FROM f GROUP BY 1),
         |k AS (SELECT * FROM f WHERE g IN ('error', 'purchase', 'view')),
         |pc AS (SELECT dow, v, CAST(count(*) AS BIGINT) AS cnt,
         |    $cnts
         |  FROM k GROUP BY 1, 2),
         |cw AS (SELECT *, CAST(sum(cnt)
         |    OVER (PARTITION BY dow ORDER BY v) AS BIGINT) AS cum FROM pc),
         |r AS (SELECT *, 2 * cum - cnt + 1 AS d2 FROM cw),
         |ag AS (SELECT dow, COALESCE(CAST(sum(cnt) AS BIGINT), 0) AS n,
         |    COALESCE(CAST(sum(CAST(cnt AS DECIMAL(19,0))
         |      * CAST(cnt AS DECIMAL(19,0)) * CAST(cnt AS DECIMAL(19,0))
         |      - CAST(cnt AS DECIMAL(19,0))) AS DECIMAL(38,0)),
         |      CAST(0 AS DECIMAL(38,0))) AS tie_dec,
         |    $aggs
         |  FROM r GROUP BY dow),
         |j AS (SELECT oth.dow, oth.n_other, COALESCE(n, 0) AS n,
         |    COALESCE(tie_dec, CAST(0 AS DECIMAL(38,0))) AS tie_dec,
         |    $zfill
         |  FROM oth LEFT JOIN ag ON oth.dow = ag.dow)
         |SELECT dow, n, n_other, ${gs.map(g => s"n_$g").mkString(", ")},
         |  ${gs.map(g => s"r2_$g").mkString(", ")},
         |  CAST(tie_dec AS BIGINT) AS tie_t,
         |  CASE WHEN $anyEmpty THEN NULL ELSE $h END AS h,
         |  CASE WHEN $anyEmpty OR n < 2 THEN NULL
         |    ELSE CASE WHEN $allTied THEN NULL
         |      ELSE ($h) / (1.0 - $tieFrac) END END AS h_corrected
         |FROM j ORDER BY dow""".stripMargin
    })

  /** SRM guardrail TRACE ([[graft.ops.Abtest.srmTrace]]): the split
    * check per batch tag over the cumulative store prefix — WHEN did
    * the assignment break, localizing the ingest batch that skewed
    * it. Same store and window as [[qAbTrace]]; oracle replays each
    * prefix's unit counts. */
  val qSrmTrace: Q = "q_srm_trace" -> (
    (s: SparkSession, d: String) => {
      // SHARED STORE with q_ab_stored/q_srm_stored/q_ab_trace/
      // q_ab_boundary: the append parameters here MUST stay identical
      // to those sites (marker-gated appendCommit keeps the first
      // writer's content).
      val store = codebookPath(d, "ab_store")
      val ev = Tables.events(s, d)
      (0 to 2).foreach { k =>
        graft.ops.Abtest.momentsStoreAppend(
          ev.filter(pmod(col("user_id"), lit(3)) === k), store, s"b$k",
          "user_id", "event_type = 'purchase' AND value > 110",
          "0", "0", salt = "exp1")
      }
      graft.ops.Abtest.srmTrace(s, store).orderBy(col("tag"))
    },
    {
      val blocks = (0 to 2).map { k =>
        s"""ag$k AS (SELECT 'b$k' AS tag,
           |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_a,
           |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_b
           |  FROM va WHERE m3 <= $k)""".stripMargin
      }.mkString(",\n|")
      s"""WITH $EV,
         |un AS (SELECT user_id AS unit, user_id % 3 AS m3 FROM ev
         |  GROUP BY 1, 2),
         |va AS (SELECT m3,
         |    CAST('0x' || substr(md5(CAST(unit AS VARCHAR) || 'exp1'), 1, 7)
         |      AS BIGINT) % 2 AS variant FROM un),
         |$blocks,
         |uu AS (SELECT * FROM ag0 UNION ALL SELECT * FROM ag1
         |  UNION ALL SELECT * FROM ag2)
         |SELECT tag, n_a + n_b AS n_units, n_a, n_b,
         |  (n_a - n_b) * (n_a - n_b) AS srm_num,
         |  n_a + n_b AS srm_den,
         |  CASE WHEN n_a + n_b = 0 THEN NULL
         |    ELSE CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
         |      / CAST(n_a + n_b AS DOUBLE) END AS srm_chi2,
         |  ((n_a - n_b) * (n_a - n_b)) * 100 > 384 * (n_a + n_b) AS mismatch
         |FROM uu ORDER BY tag""".stripMargin
    })

  /** CUPED monitoring trace ([[graft.ops.Abtest.cupedTrace]]): the
    * variance-reduced lift per batch tag, theta re-estimated from
    * each cumulative prefix's pooled moments — did the adjustment
    * stay stable as data arrived? Same store as [[qCupedStored]];
    * oracle replays each prefix's full CUPED card. */
  val qCupedTrace: Q = "q_cuped_trace" -> (
    (s: SparkSession, d: String) => {
      // SHARED STORE with q_cuped_stored: the append parameters here
      // MUST stay identical to that site (marker-gated appendCommit
      // keeps the first writer's content).
      val store = codebookPath(d, "cuped_store")
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      val ev = Tables.events(s, d)
        .select(col("user_id"),
          when(expr("(ts_us div 86400000000) % 2") === 1, cents)
            .otherwise(0L).as("y_late"),
          when(expr("(ts_us div 86400000000) % 2") === 0, cents)
            .otherwise(0L).as("x_early"))
      (0 to 2).foreach { k =>
        graft.ops.Abtest.momentsStoreAppend(
          ev.filter(pmod(col("user_id"), lit(3)) === k), store, s"b$k",
          "user_id", "false", "y_late", "x_early", salt = "cuped13")
      }
      graft.ops.Abtest.cupedTrace(s, store).orderBy(col("tag"))
    },
    {
      val blocks = (0 to 2).map { k =>
        s"""ag$k AS (SELECT 'b$k' AS tag,
           |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_a,
           |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_b,
           |    CAST(sum(CASE WHEN variant = 0 THEN y ELSE 0 END) AS BIGINT)
           |      AS sy_a,
           |    CAST(sum(CASE WHEN variant = 1 THEN y ELSE 0 END) AS BIGINT)
           |      AS sy_b,
           |    CAST(sum(CASE WHEN variant = 0 THEN x ELSE 0 END) AS BIGINT)
           |      AS sx_a,
           |    CAST(sum(CASE WHEN variant = 1 THEN x ELSE 0 END) AS BIGINT)
           |      AS sx_b,
           |    CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0)))
           |      AS DECIMAL(38,0)) AS sxx,
           |    CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
           |      AS DECIMAL(38,0)) AS sxy,
           |    CAST(sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
           |      AS DECIMAL(38,0)) AS syy
           |  FROM va WHERE m3 <= $k)""".stripMargin
      }.mkString(",\n|")
      s"""WITH $EV,
         |un AS (SELECT user_id AS unit, user_id % 3 AS m3,
         |    CAST(sum(CASE WHEN (ts_us // 86400000000) % 2 = 1
         |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
         |      ELSE 0 END) AS BIGINT) AS y,
         |    CAST(sum(CASE WHEN (ts_us // 86400000000) % 2 = 0
         |      THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
         |      ELSE 0 END) AS BIGINT) AS x
         |  FROM ev GROUP BY 1, 2),
         |va AS (SELECT m3, y, x, CAST('0x' || substr(md5(CAST(unit AS VARCHAR)
         |    || 'cuped13'), 1, 7) AS BIGINT) % 2 AS variant FROM un),
         |$blocks,
         |uu AS (SELECT * FROM ag0 UNION ALL SELECT * FROM ag1
         |  UNION ALL SELECT * FROM ag2),
         |st AS (SELECT *, n_a + n_b AS n,
         |    CAST(sx_a + sx_b AS DECIMAL(19,0)) AS sx,
         |    CAST(sy_a + sy_b AS DECIMAL(19,0)) AS sy FROM uu),
         |st2 AS (SELECT *,
         |    CAST(CAST(n AS DECIMAL(19,0)) * sxy - CAST(sx * sy AS DECIMAL(38,0))
         |      AS DECIMAL(38,0)) AS th_num,
         |    CAST(CAST(n AS DECIMAL(19,0)) * sxx - CAST(sx * sx AS DECIMAL(38,0))
         |      AS DECIMAL(38,0)) AS th_den,
         |    CAST(CAST(n AS DECIMAL(19,0)) * syy - CAST(sy * sy AS DECIMAL(38,0))
         |      AS DECIMAL(38,0)) AS syc
         |  FROM st)
         |SELECT tag, n_a, n_b, sy_a, sy_b,
         |  CASE WHEN n_a = 0 OR n_b = 0 OR th_den = 0 THEN NULL
         |    ELSE CAST(th_num AS DOUBLE) / CAST(th_den AS DOUBLE) END AS theta,
         |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
         |    ELSE CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)
         |      - CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) END AS lift_raw,
         |  CASE WHEN n_a = 0 OR n_b = 0 OR th_den = 0 THEN NULL
         |    ELSE CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)
         |      - CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
         |      - CAST(th_num AS DOUBLE) / CAST(th_den AS DOUBLE)
         |        * (CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE)
         |          - CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE))
         |    END AS lift_cuped,
         |  CASE WHEN n_a = 0 OR n_b = 0 OR th_den = 0 OR syc = 0 THEN NULL
         |    ELSE (CAST(th_num AS DOUBLE) * CAST(th_num AS DOUBLE))
         |      / (CAST(th_den AS DOUBLE) * CAST(syc AS DOUBLE))
         |    END AS var_reduction
         |FROM st2 ORDER BY tag""".stripMargin
    })

  /** GROUPED Kendall concordance
    * ([[graft.ops.Stats.kendallCells]] groupCols overload): one
    * gamma/tau-b card per source over the per-source quantized cell
    * relation — the tie-robust ordinal companion to [[qSpearmanBy]]
    * in the per-segment drift-triage set. */
  val qKendallBy: Q = "q_kendall_by" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Stats.kendallCells(
          Tables.documents(s, d)
            .select(col("source"),
              Text.tokenCount(col("text")).cast("long").as("tc"),
              col("n_chars")),
          Seq("source"), "tc div 8", "n_chars div 64")
        .orderBy(col("source")),
    s"""WITH cells AS (SELECT source, CAST(len($TOKS) AS BIGINT) // 8 AS x,
       |    CAST(n_chars AS BIGINT) // 64 AS y,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM documents GROUP BY 1, 2, 3),
       |pr AS (SELECT a.source,
       |    COALESCE(CAST(sum(CASE WHEN a.y < b.y
       |        THEN CAST(CAST(a.cnt AS DECIMAL(19,0))
       |          * CAST(b.cnt AS DECIMAL(19,0)) AS DECIMAL(38,0))
       |        ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)),
       |      CAST(0 AS DECIMAL(38,0))) AS c_pairs,
       |    COALESCE(CAST(sum(CASE WHEN a.y > b.y
       |        THEN CAST(CAST(a.cnt AS DECIMAL(19,0))
       |          * CAST(b.cnt AS DECIMAL(19,0)) AS DECIMAL(38,0))
       |        ELSE CAST(0 AS DECIMAL(38,0)) END) AS DECIMAL(38,0)),
       |      CAST(0 AS DECIMAL(38,0))) AS d_pairs
       |  FROM cells a JOIN cells b
       |    ON a.source = b.source AND a.x < b.x
       |  GROUP BY 1),
       |tot AS (SELECT source, COALESCE(CAST(sum(cnt) AS BIGINT), 0) AS n,
       |    CAST(count(*) AS BIGINT) AS n_cells FROM cells GROUP BY 1),
       |tx AS (SELECT source, COALESCE(CAST(sum(CAST(m AS DECIMAL(19,0))
       |      * CAST(m - 1 AS DECIMAL(19,0))) AS DECIMAL(38,0)),
       |    CAST(0 AS DECIMAL(38,0))) AS t2_x
       |  FROM (SELECT source, CAST(sum(cnt) AS BIGINT) AS m FROM cells
       |    GROUP BY source, x) GROUP BY 1),
       |ty AS (SELECT source, COALESCE(CAST(sum(CAST(m AS DECIMAL(19,0))
       |      * CAST(m - 1 AS DECIMAL(19,0))) AS DECIMAL(38,0)),
       |    CAST(0 AS DECIMAL(38,0))) AS t2_y
       |  FROM (SELECT source, CAST(sum(cnt) AS BIGINT) AS m FROM cells
       |    GROUP BY source, y) GROUP BY 1),
       |st AS (SELECT tot.source, n, n_cells,
       |    COALESCE(c_pairs, CAST(0 AS DECIMAL(38,0))) AS c_pairs,
       |    COALESCE(d_pairs, CAST(0 AS DECIMAL(38,0))) AS d_pairs,
       |    CAST(CAST(n AS DECIMAL(19,0)) * CAST(n - 1 AS DECIMAL(19,0))
       |      AS DECIMAL(38,0)) - t2_x AS den1,
       |    CAST(CAST(n AS DECIMAL(19,0)) * CAST(n - 1 AS DECIMAL(19,0))
       |      AS DECIMAL(38,0)) - t2_y AS den2
       |  FROM tot LEFT JOIN pr ON tot.source = pr.source
       |    JOIN tx ON tot.source = tx.source
       |    JOIN ty ON tot.source = ty.source)
       |SELECT source, n, n_cells, CAST(c_pairs AS BIGINT) AS c_pairs,
       |  CAST(d_pairs AS BIGINT) AS d_pairs,
       |  CASE WHEN c_pairs + d_pairs = 0 THEN NULL
       |    ELSE CAST(c_pairs - d_pairs AS DOUBLE)
       |      / CAST(c_pairs + d_pairs AS DOUBLE) END AS gamma,
       |  CASE WHEN den1 = 0 OR den2 = 0 THEN NULL
       |    ELSE 2.0 * CAST(c_pairs - d_pairs AS DOUBLE)
       |      / (sqrt(CAST(den1 AS DOUBLE)) * sqrt(CAST(den2 AS DOUBLE)))
       |    END AS tau_b
       |FROM st ORDER BY source""".stripMargin)

  /** QTE monitoring trace ([[graft.ops.Abtest.quantileLiftTrace]]):
    * the heavy-tail lift per batch tag — did the p99 effect hold as
    * data arrived? Same store as [[qQteStored]]; oracle replays every
    * prefix through one grouped quantile selection with the tag as a
    * group axis. */
  val qQteTrace: Q = "q_qte_trace" -> (
    (s: SparkSession, d: String) => {
      // SHARED STORE with q_qte_stored/q_qte_asof: append parameters
      // MUST stay identical there (marker-gated appendCommit keeps the
      // first writer's content).
      val store = codebookPath(d, "qte_store")
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      val ev = Tables.events(s, d).select(col("user_id"), cents.as("cents"))
      (0 to 2).foreach { k =>
        graft.ops.Abtest.quantileLiftStoreAppend(
          ev.filter(pmod(col("user_id"), lit(3)) === k), store, s"b$k",
          "user_id", "cents", salt = "exp13", bucketWidth = 1000L)
      }
      graft.ops.Abtest.quantileLiftTrace(s, store, 1000L,
          qs = Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
        .orderBy(col("tag"), col("p_label"))
    },
    s"""WITH $EV,
       |un AS (SELECT user_id AS unit, user_id % 3 AS m3,
       |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
       |      AS BIGINT) AS v
       |  FROM ev GROUP BY 1, 2),
       |va AS (SELECT m3, CAST('0x' || substr(md5(CAST(unit AS VARCHAR)
       |    || 'exp13'), 1, 7) AS BIGINT) % 2 AS variant, v FROM un),
       |src AS (SELECT 'b0' AS tag, variant, v FROM va WHERE m3 <= 0
       |  UNION ALL SELECT 'b1' AS tag, variant, v FROM va WHERE m3 <= 1
       |  UNION ALL SELECT 'b2' AS tag, variant, v FROM va WHERE m3 <= 2),
       |${graft.ops.Quantiles.oracleCtesBy("src", Seq("tag", "variant"),
            Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)), 1000L)},
       |qa AS (SELECT tag, p_label, target AS target_a, lo AS lo_a FROM hq
       |  WHERE variant = 0),
       |qb AS (SELECT tag, p_label, target AS target_b, lo AS lo_b FROM hq
       |  WHERE variant = 1)
       |SELECT COALESCE(qa.tag, qb.tag) AS tag,
       |  COALESCE(qa.p_label, qb.p_label) AS p_label,
       |  target_a, lo_a, target_b, lo_b, lo_b - lo_a AS qte
       |FROM qa FULL OUTER JOIN qb
       |  ON qa.tag = qb.tag AND qa.p_label = qb.p_label
       |ORDER BY tag, p_label""".stripMargin)

  /** Histogram-store quantile trace
    * ([[graft.ops.Quantiles.quantilesTraceFromStore]]): p50/p90/p99 of
    * the maintained token-count distribution AS OF every batch tag —
    * the drift-review history next to [[qHistAsof]]'s single cut.
    * Oracle replays every prefix through one grouped selection with
    * the tag as a group axis. */
  val qHistTrace: Q = "q_hist_trace" -> (
    (s: SparkSession, d: String) => {
      // SHARED STORE with q_hist_stored: append parameters MUST stay
      // identical there (marker-gated appendCommit keeps the first
      // writer's content).
      val docs = Tables.documents(s, d)
      val store = codebookPath(d, "hist_tokcnt")
      (0 to 2).foreach { k =>
        graft.ops.Quantiles.storeAppend(
          docs.filter(col("doc_id") % 3 === k)
            .select(Text.tokenCount(col("text")).cast("long").as("v")),
          store, s"b$k", "v", 8L)
      }
      graft.ops.Quantiles.quantilesTraceFromStore(s, store,
          graft.ops.Quantiles.StandardQs, 8L)
        .orderBy(col("tag"), col("p_label"))
    },
    s"""WITH base AS (SELECT doc_id % 3 AS m3,
       |    CAST(len($TOKS) AS BIGINT) AS v FROM documents),
       |src AS (SELECT 'b0' AS tag, v FROM base WHERE m3 <= 0
       |  UNION ALL SELECT 'b1' AS tag, v FROM base WHERE m3 <= 1
       |  UNION ALL SELECT 'b2' AS tag, v FROM base WHERE m3 <= 2),
       |${graft.ops.Quantiles.oracleCtesBy("src", Seq("tag"),
            graft.ops.Quantiles.StandardQs, 8L)}
       |SELECT tag, p_label, target, bucket, lo, cum FROM hq
       |ORDER BY tag, p_label""".stripMargin)

  /** Deterministic random walks
    * ([[graft.ops.Graph.deterministicWalks]]): the node2vec/DeepWalk
    * training-corpus generator under the hash-not-RNG discipline —
    * hop t from node c picks dst-sorted neighbor
    * md5(start, t, c, salt) % deg(c), so the walk table is a pure
    * function of (graph, salt) and the oracle replays every hop. Over
    * the co-purchase graph; 3 hops. */
  val qRandomWalks: Q = "q_random_walks" -> (
    (s: SparkSession, d: String) => {
      val edges = graft.ops.Graph.copurchaseEdges(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minItemSupport = 5)
      graft.ops.Graph.deterministicWalks(edges, "src", "dst",
          walkLen = 3, salt = "walk1")
        .orderBy(col("node"))
    },
    {
      def hop(t: Int): String = {
        val prev = s"step_${t - 1}"
        val cols = (0 until t).map(i => s"w.step_$i").mkString(", ")
        // continuation lines must not START with '||': the outer
        // query string's stripMargin would eat one pipe
        s"""w$t AS (SELECT w.node, $cols, a.dst AS step_$t
           |  FROM w${t - 1} w JOIN adj a ON a.src = w.$prev
           |    AND a.idx = CAST('0x' || substr(md5(CAST(w.node AS VARCHAR) ||
           |      '#$t#' || CAST(w.$prev AS VARCHAR) || 'walk1'), 1, 7)
           |      AS BIGINT) % a.deg)""".stripMargin
      }
      s"""WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
         |    FROM lineitem),
         |f AS (SELECT item FROM b GROUP BY item HAVING count(*) >= 5),
         |fb AS (SELECT b.basket, b.item FROM b JOIN f USING (item)),
         |e AS (SELECT DISTINCT x.item AS src, y.item AS dst
         |  FROM fb x JOIN fb y ON x.basket = y.basket AND x.item <> y.item),
         |adj AS (SELECT src, dst,
         |    CAST(row_number() OVER (PARTITION BY src ORDER BY dst)
         |      AS BIGINT) - 1 AS idx,
         |    CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS deg
         |  FROM e),
         |w0 AS (SELECT DISTINCT src AS node, src AS step_0 FROM adj),
         |${hop(1)},
         |${hop(2)},
         |${hop(3)}
         |SELECT node, step_0, step_1, step_2, step_3 FROM w3
         |ORDER BY node""".stripMargin
    })

  /** Skip-gram training pairs over the deterministic walk table
    * ([[graft.ops.Graph.walkPairs]]): the DeepWalk corpus itself —
    * ordered (center, context) pairs within 1 hop, aggregated. Oracle
    * replays the walks and the per-position pair union. */
  val qWalkPairs: Q = "q_walk_pairs" -> (
    (s: SparkSession, d: String) => {
      val edges = graft.ops.Graph.copurchaseEdges(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minItemSupport = 5)
      val walks = graft.ops.Graph.deterministicWalks(edges, "src", "dst",
        walkLen = 3, salt = "walk1")
      graft.ops.Graph.walkPairs(walks, walkLen = 3, window = 1)
        .orderBy(col("center"), col("context"))
    },
    {
      def hop(t: Int): String = {
        val prev = s"step_${t - 1}"
        val cols = (0 until t).map(i => s"w.step_$i").mkString(", ")
        s"""w$t AS (SELECT w.node, $cols, a.dst AS step_$t
           |  FROM w${t - 1} w JOIN adj a ON a.src = w.$prev
           |    AND a.idx = CAST('0x' || substr(md5(CAST(w.node AS VARCHAR) ||
           |      '#$t#' || CAST(w.$prev AS VARCHAR) || 'walk1'), 1, 7)
           |      AS BIGINT) % a.deg)""".stripMargin
      }
      val ij = for {
        i <- 0 to 3; j <- 0 to 3
        if i != j && math.abs(i - j) <= 1
      } yield s"SELECT step_$i AS center, step_$j AS context FROM w3"
      s"""WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
         |    FROM lineitem),
         |f AS (SELECT item FROM b GROUP BY item HAVING count(*) >= 5),
         |fb AS (SELECT b.basket, b.item FROM b JOIN f USING (item)),
         |e AS (SELECT DISTINCT x.item AS src, y.item AS dst
         |  FROM fb x JOIN fb y ON x.basket = y.basket AND x.item <> y.item),
         |adj AS (SELECT src, dst,
         |    CAST(row_number() OVER (PARTITION BY src ORDER BY dst)
         |      AS BIGINT) - 1 AS idx,
         |    CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS deg
         |  FROM e),
         |w0 AS (SELECT DISTINCT src AS node, src AS step_0 FROM adj),
         |${hop(1)},
         |${hop(2)},
         |${hop(3)},
         |pr AS (${ij.mkString("\n|  UNION ALL ")})
         |SELECT center, context, CAST(count(*) AS BIGINT) AS cnt
         |FROM pr WHERE center IS NOT NULL AND context IS NOT NULL
         |GROUP BY 1, 2 ORDER BY center, context""".stripMargin
    })

  /** [[qRandomWalks]] over edges derived from the INCREMENTAL pair
    * store ([[graft.ops.Graph.copurchaseEdgesFromPairStore]]) — the
    * 100 TB walk-corpus pattern: pair extraction runs once per
    * arriving basket batch, every consumer (PageRank, the walk
    * generator) reads the merged artifact instead of re-scanning
    * history. SAME store path + slice tags as [[qPageRankStored]]
    * (one store, many consumers; appendCommit is idempotent by tag,
    * so whichever query runs first builds it). The oracle is
    * [[qRandomWalks]]'s VERBATIM: the store's edge-set-identity
    * contract means the walk table must be indistinguishable from the
    * one-shot build, every hop included. */
  val qRandomWalksStored: Q = "q_random_walks_stored" -> (
    (s: SparkSession, d: String) => {
      val path = codebookPath(d, "basket_pairs_pr")
      val b = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
      (0 until 3).foreach { i =>
        graft.ops.Baskets.pairStoreAppend(
          b.filter(pmod(col("basket"), lit(3)) === i), path, s"slice_$i")
      }
      val edges = graft.ops.Graph.copurchaseEdgesFromPairStore(
        s, path, minItemSupport = 5)
      graft.ops.Graph.deterministicWalks(edges, "src", "dst",
          walkLen = 3, salt = "walk1")
        .orderBy(col("node"))
    },
    qRandomWalks._2._2)

  /** [[qWalkPairs]] from the stored edge set — the skip-gram corpus
    * read off the SAME merged pair store as [[qRandomWalksStored]];
    * oracle is [[qWalkPairs]]'s verbatim (edge-set identity ⇒
    * identical walks ⇒ identical pair counts). */
  val qWalkPairsStored: Q = "q_walk_pairs_stored" -> (
    (s: SparkSession, d: String) => {
      val path = codebookPath(d, "basket_pairs_pr")
      val b = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("basket"), col("l_partkey").as("item"))
      (0 until 3).foreach { i =>
        graft.ops.Baskets.pairStoreAppend(
          b.filter(pmod(col("basket"), lit(3)) === i), path, s"slice_$i")
      }
      val edges = graft.ops.Graph.copurchaseEdgesFromPairStore(
        s, path, minItemSupport = 5)
      val walks = graft.ops.Graph.deterministicWalks(edges, "src", "dst",
        walkLen = 3, salt = "walk1")
      graft.ops.Graph.walkPairs(walks, walkLen = 3, window = 1)
        .orderBy(col("center"), col("context"))
    },
    qWalkPairs._2._2)

  /** WEIGHTED deterministic walks
    * ([[graft.ops.Graph.deterministicWalksWeighted]]) over the
    * co-purchase graph with shared-basket counts as edge weights
    * ([[graft.ops.Graph.copurchaseWeightedEdges]]): hop t draws
    * r = md5(start, t, c, salt) % totalW(c) and steps to the
    * dst-sorted neighbor whose cumulative-weight range contains r —
    * node2vec's weight bias under the hash-not-RNG discipline, every
    * hop replayed by the oracle's unrolled cumulative-window joins. */
  val qWalksWeighted: Q = "q_walks_weighted" -> (
    (s: SparkSession, d: String) => {
      val edges = graft.ops.Graph.copurchaseWeightedEdges(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minItemSupport = 5)
      graft.ops.Graph.deterministicWalksWeighted(edges, "src", "dst", "w",
          walkLen = 3, salt = "walkw1")
        .orderBy(col("node"))
    },
    {
      def hash(t: Int): String =
        s"""CAST('0x' || substr(md5(CAST(w.node AS VARCHAR) ||
           |      '#$t#' || CAST(w.step_${t - 1} AS VARCHAR) || 'walkw1'),
           |      1, 7) AS BIGINT)""".stripMargin
      def hop(t: Int): String = {
        val cols = (0 until t).map(i => s"w.step_$i").mkString(", ")
        s"""w$t AS (SELECT w.node, $cols, a.dst AS step_$t
           |  FROM w${t - 1} w JOIN adj a ON a.src = w.step_${t - 1}
           |    AND ${hash(t)} % a.tot >= a.cum - a.w
           |    AND ${hash(t)} % a.tot < a.cum)""".stripMargin
      }
      s"""WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
         |    FROM lineitem),
         |f AS (SELECT item FROM b GROUP BY item HAVING count(*) >= 5),
         |fb AS (SELECT b.basket, b.item FROM b JOIN f USING (item)),
         |e AS (SELECT x.item AS src, y.item AS dst,
         |    CAST(count(*) AS BIGINT) AS w
         |  FROM fb x JOIN fb y ON x.basket = y.basket AND x.item <> y.item
         |  GROUP BY 1, 2),
         |adj AS (SELECT src, dst, w,
         |    CAST(sum(w) OVER (PARTITION BY src ORDER BY dst
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum,
         |    CAST(sum(w) OVER (PARTITION BY src) AS BIGINT) AS tot
         |  FROM e),
         |w0 AS (SELECT DISTINCT src AS node, src AS step_0 FROM adj),
         |${hop(1)},
         |${hop(2)},
         |${hop(3)}
         |SELECT node, step_0, step_1, step_2, step_3 FROM w3
         |ORDER BY node""".stripMargin
    })

  /** Weighted node2vec walks
    * ([[graft.ops.Graph.deterministicWalksNode2vecWeighted]], p = 4,
    * q = 1/4 over shared-basket edge weights): the paper's full
    * transition kernel α_pq(b, x)·w(c, x) in exact longs — hop 1 is
    * the weighted first-order draw, hops 2–3 multiply the
    * return/triangle/explore bias into the edge weight before the
    * cumulative-range md5 pick. Oracle unrolls both sweeps with the
    * identical candidate + triangle joins and windows. */
  val qWalksN2vWeighted: Q = "q_walks_n2v_weighted" -> (
    (s: SparkSession, d: String) => {
      val edges = graft.ops.Graph.copurchaseWeightedEdges(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minItemSupport = 5)
      graft.ops.Graph.deterministicWalksNode2vecWeighted(edges, "src",
          "dst", "w", walkLen = 3, salt = "n2vw",
          pNum = 4L, pDen = 1L, qNum = 1L, qDen = 4L)
        .orderBy(col("node"))
    },
    {
      def hash(t: Int, cur: String): String =
        s"""CAST('0x' || substr(md5(CAST(node AS VARCHAR) ||
           |      '#$t#' || CAST($cur AS VARCHAR) || 'n2vw'),
           |      1, 7) AS BIGINT)""".stripMargin
      def hash1(cur: String): String =
        s"""CAST('0x' || substr(md5(CAST(w.node AS VARCHAR) ||
           |      '#1#' || CAST(w.$cur AS VARCHAR) || 'n2vw'),
           |      1, 7) AS BIGINT)""".stripMargin
      def hop(t: Int): String = {
        val prev = s"step_${t - 2}"
        val cur = s"step_${t - 1}"
        val cols = (0 until t).map(i => s"step_$i").mkString(", ")
        val wcols = (0 until t).map(i => s"w.step_$i").mkString(", ")
        s"""c$t AS (SELECT w.node, $wcols, a.dst AS x,
           |    CAST((CASE WHEN a.dst = w.$prev THEN 1
           |      WHEN nb.src IS NOT NULL THEN 4 ELSE 16 END) * a.w
           |      AS BIGINT) AS wt
           |  FROM w${t - 1} w JOIN adj a ON a.src = w.$cur
           |  LEFT JOIN e nb ON nb.src = w.$prev AND nb.dst = a.dst),
           |k$t AS (SELECT *, CAST(sum(wt) OVER (PARTITION BY node
           |      ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS cum,
           |    CAST(sum(wt) OVER (PARTITION BY node) AS BIGINT) AS tot
           |  FROM c$t),
           |w$t AS (SELECT node, $cols, x AS step_$t FROM k$t
           |  WHERE ${hash(t, cur)} % tot >= cum - wt
           |    AND ${hash(t, cur)} % tot < cum)""".stripMargin
      }
      s"""WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
         |    FROM lineitem),
         |f AS (SELECT item FROM b GROUP BY item HAVING count(*) >= 5),
         |fb AS (SELECT b.basket, b.item FROM b JOIN f USING (item)),
         |e AS (SELECT x.item AS src, y.item AS dst,
         |    CAST(count(*) AS BIGINT) AS w
         |  FROM fb x JOIN fb y ON x.basket = y.basket AND x.item <> y.item
         |  GROUP BY 1, 2),
         |adj AS (SELECT src, dst, w,
         |    CAST(sum(w) OVER (PARTITION BY src ORDER BY dst
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum,
         |    CAST(sum(w) OVER (PARTITION BY src) AS BIGINT) AS tot
         |  FROM e),
         |w0 AS (SELECT DISTINCT src AS node, src AS step_0 FROM adj),
         |w1 AS (SELECT w.node, w.step_0, a.dst AS step_1
         |  FROM w0 w JOIN adj a ON a.src = w.step_0
         |    AND ${hash1("step_0")} % a.tot >= a.cum - a.w
         |    AND ${hash1("step_0")} % a.tot < a.cum),
         |${hop(2)},
         |${hop(3)}
         |SELECT node, step_0, step_1, step_2, step_3 FROM w3
         |ORDER BY node""".stripMargin
    })

  /** Deterministic word2vec negative sampling
    * ([[graft.ops.Graph.negativeSamples]]) over the weighted
    * co-purchase pair corpus: every positive (center, context) pair
    * draws 2 negatives from the smoothed unigram P(x) ∝ f(x)^¾ —
    * f^¾ = f/√√f is correctly-rounded IEEE in both engines, the draw
    * is the md5 range pick over the integerized cumulative table. The
    * Spark side resolves draws with the bucket-join inverse-CDF (an
    * EQUI-join on bucket id); the oracle uses DuckDB's native range
    * join — same table, same picks. */
  val qNegativeSamples: Q = "q_negative_samples" -> (
    (s: SparkSession, d: String) => {
      val pairs = graft.ops.Graph.copurchaseWeightedEdges(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minItemSupport = 5)
      graft.ops.Graph.negativeSamples(pairs, "src", "dst", "w",
          numNeg = 2, salt = "neg1")
        .select(col("center"), col("context"),
          col("j").cast("long").as("j"), col("neg"))
        .orderBy(col("center"), col("context"), col("j"))
    },
    s"""WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
       |    FROM lineitem),
       |f AS (SELECT item FROM b GROUP BY item HAVING count(*) >= 5),
       |fb AS (SELECT b.basket, b.item FROM b JOIN f USING (item)),
       |e AS (SELECT x.item AS src, y.item AS dst,
       |    CAST(count(*) AS BIGINT) AS w
       |  FROM fb x JOIN fb y ON x.basket = y.basket AND x.item <> y.item
       |  GROUP BY 1, 2),
       |fr AS (SELECT dst AS node, CAST(sum(w) AS BIGINT) AS fq
       |  FROM e GROUP BY 1),
       |wt AS (SELECT node, CAST(floor(CAST(fq AS DOUBLE)
       |    / sqrt(sqrt(CAST(fq AS DOUBLE))) * 1024.0) AS BIGINT) AS wl
       |  FROM fr),
       |cm AS (SELECT node, wl, CAST(sum(wl) OVER (ORDER BY node
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS BIGINT) AS cum FROM wt),
       |tt AS (SELECT CAST(max(cum) AS BIGINT) AS tot FROM cm),
       |js AS (SELECT unnest(generate_series(1, 2)) AS j),
       |dr AS (SELECT e.src AS center, e.dst AS context,
       |    CAST(j AS BIGINT) AS j,
       |    CAST('0x' || substr(md5(CAST(e.src AS VARCHAR) || '#' ||
       |      CAST(e.dst AS VARCHAR) || '#' || CAST(j AS VARCHAR) ||
       |      '#neg1'), 1, 7) AS BIGINT) % tot AS r
       |  FROM e, tt, js)
       |SELECT center, context, j, cm.node AS neg
       |FROM dr JOIN cm ON dr.r >= cm.cum - cm.wl AND dr.r < cm.cum
       |ORDER BY center, context, j""".stripMargin)

  /** node2vec SECOND-ORDER walks
    * ([[graft.ops.Graph.deterministicWalksNode2vec]]) over the
    * co-purchase graph at p = 4, q = 1/4 (explore-heavy: return
    * weight 1, triangle 4, explore 16 after cross-multiplying —
    * exact longs): hop t ≥ 2 weights each neighbor by whether it
    * returns to, triangulates with, or leaves the previous node's
    * neighborhood, then draws the same md5 range pick as the
    * weighted walks. The oracle unrolls all three hops with the
    * identical candidate join + LEFT JOIN triangle test + cumulative
    * windows. */
  val qWalksNode2vec: Q = "q_walks_node2vec" -> (
    (s: SparkSession, d: String) => {
      val edges = graft.ops.Graph.copurchaseEdges(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minItemSupport = 5)
      graft.ops.Graph.deterministicWalksNode2vec(edges, "src", "dst",
          walkLen = 3, salt = "n2v1", pNum = 4L, pDen = 1L,
          qNum = 1L, qDen = 4L)
        .orderBy(col("node"))
    },
    {
      def hash(t: Int, cur: String): String =
        s"""CAST('0x' || substr(md5(CAST(node AS VARCHAR) ||
           |      '#$t#' || CAST($cur AS VARCHAR) || 'n2v1'),
           |      1, 7) AS BIGINT)""".stripMargin
      def hop(t: Int): String = {
        val prev = s"step_${t - 2}"
        val cur = s"step_${t - 1}"
        val cols = (0 until t).map(i => s"step_$i").mkString(", ")
        val wcols = (0 until t).map(i => s"w.step_$i").mkString(", ")
        s"""c$t AS (SELECT w.node, $wcols, a.dst AS x,
           |    CAST(CASE WHEN a.dst = w.$prev THEN 1
           |      WHEN nb.src IS NOT NULL THEN 4 ELSE 16 END AS BIGINT) AS wt
           |  FROM w${t - 1} w JOIN adj a ON a.src = w.$cur
           |  LEFT JOIN e nb ON nb.src = w.$prev AND nb.dst = a.dst),
           |k$t AS (SELECT *, CAST(sum(wt) OVER (PARTITION BY node
           |      ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      AS BIGINT) AS cum,
           |    CAST(sum(wt) OVER (PARTITION BY node) AS BIGINT) AS tot
           |  FROM c$t),
           |w$t AS (SELECT node, $cols, x AS step_$t FROM k$t
           |  WHERE ${hash(t, cur)} % tot >= cum - wt
           |    AND ${hash(t, cur)} % tot < cum)""".stripMargin
      }
      s"""WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
         |    FROM lineitem),
         |f AS (SELECT item FROM b GROUP BY item HAVING count(*) >= 5),
         |fb AS (SELECT b.basket, b.item FROM b JOIN f USING (item)),
         |e AS (SELECT DISTINCT x.item AS src, y.item AS dst
         |  FROM fb x JOIN fb y ON x.basket = y.basket AND x.item <> y.item),
         |adj AS (SELECT src, dst,
         |    CAST(row_number() OVER (PARTITION BY src ORDER BY dst)
         |      AS BIGINT) - 1 AS idx,
         |    CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS deg
         |  FROM e),
         |w0 AS (SELECT DISTINCT src AS node, src AS step_0 FROM adj),
         |w1 AS (SELECT w.node, w.step_0, a.dst AS step_1
         |  FROM w0 w JOIN adj a ON a.src = w.step_0
         |    AND a.idx = CAST('0x' || substr(md5(CAST(w.node AS VARCHAR) ||
         |      '#1#' || CAST(w.step_0 AS VARCHAR) || 'n2v1'), 1, 7)
         |      AS BIGINT) % a.deg),
         |${hop(2)},
         |${hop(3)}
         |SELECT node, step_0, step_1, step_2, step_3 FROM w3
         |ORDER BY node""".stripMargin
    })

  /** Winsorized Welch readout
    * ([[graft.ops.Abtest.winsorizedMeanReadout]]): the heavy-tail
    * robust continuous-metric card — per-user revenue capped at the
    * pooled p99 (exact bucketed quantile, an integer) before the
    * moment sums, so the winsorized arithmetic stays engine-exact and
    * one whale cannot own the lift. */
  val qAbWinsorized: Q = "q_ab_winsorized" -> (
    (s: SparkSession, d: String) => {
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      graft.ops.Abtest.winsorizedMeanReadout(
        Tables.events(s, d).select(col("user_id"), cents.as("cents")),
        "user_id", "cents", salt = "exp13", bucketWidth = 1000L,
        capNum = 99, capDen = 100)
    },
    {
      def vr(s: String) =
        s"""(CAST(CAST(CAST(CAST(n_$s AS DECIMAL(19,0)) * syy_$s
           | AS DECIMAL(38,0)) - CAST(CAST(sy_$s AS DECIMAL(19,0))
           | * CAST(sy_$s AS DECIMAL(19,0)) AS DECIMAL(38,0))
           | AS DECIMAL(38,0)) AS DOUBLE)
           | / (CAST(n_$s AS DOUBLE) * CAST(n_$s - 1 AS DOUBLE)))"""
          .stripMargin.replace("\n", "")
      val ua = s"(${vr("a")} / CAST(n_a AS DOUBLE))"
      val ub = s"(${vr("b")} / CAST(n_b AS DOUBLE))"
      val mA = "(CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE))"
      val mB = "(CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE))"
      val tiny = "n_a = 0 OR n_b = 0 OR n_a < 2 OR n_b < 2"
      s"""WITH $EV,
         |un AS (SELECT user_id AS unit,
         |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
         |      AS BIGINT) AS y
         |  FROM ev GROUP BY 1),
         |src AS (SELECT y AS v FROM un),
         |${graft.ops.Quantiles.oracleCtes("src",
              Seq(("cap", 99, 100)), 1000L)},
         |cp AS (SELECT lo AS cap FROM hq),
         |va AS (SELECT cp.cap, LEAST(un.y, cp.cap) AS y,
         |    CAST('0x' || substr(md5(CAST(unit AS VARCHAR) || 'exp13'),
         |      1, 7) AS BIGINT) % 2 AS variant
         |  FROM un, cp),
         |ag AS (SELECT max(cap) AS cap,
         |    COALESCE(CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT), 0) AS n_a,
         |    COALESCE(CAST(sum(CASE WHEN variant = 0 THEN y ELSE 0 END)
         |      AS BIGINT), 0) AS sy_a,
         |    COALESCE(CAST(sum(CASE WHEN variant = 0
         |      THEN CAST(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))
         |        AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END)
         |      AS DECIMAL(38,0)), CAST(0 AS DECIMAL(38,0))) AS syy_a,
         |    COALESCE(CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END)
         |      AS BIGINT), 0) AS n_b,
         |    COALESCE(CAST(sum(CASE WHEN variant = 1 THEN y ELSE 0 END)
         |      AS BIGINT), 0) AS sy_b,
         |    COALESCE(CAST(sum(CASE WHEN variant = 1
         |      THEN CAST(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))
         |        AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END)
         |      AS DECIMAL(38,0)), CAST(0 AS DECIMAL(38,0))) AS syy_b
         |  FROM va)
         |SELECT cap, n_a, n_b, sy_a, sy_b,
         |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL ELSE $mA END AS mean_a,
         |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL ELSE $mB END AS mean_b,
         |  CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
         |    ELSE $mB - $mA END AS lift,
         |  CASE WHEN $tiny THEN NULL
         |    ELSE CASE WHEN $ua + $ub <= 0.0 THEN NULL
         |      ELSE ($mB - $mA) / sqrt($ua + $ub) END END AS t_welch,
         |  CASE WHEN $tiny THEN NULL
         |    ELSE CASE WHEN $ua + $ub <= 0.0 THEN NULL
         |      ELSE ($ua + $ub) * ($ua + $ub)
         |        / ($ua * $ua / (CAST(n_a AS DOUBLE) - 1.0)
         |          + $ub * $ub / (CAST(n_b AS DOUBLE) - 1.0)) END
         |    END AS df_welch
         |FROM ag""".stripMargin
    })

  /** GROUPED SRM ([[graft.ops.Abtest.srmCheckBy]]): the sample-ratio
    * guardrail per cohort — a global split can pass while one
    * segment's is broken by a segment-local logging bug. Segment =
    * a unit attribute (user cohort). */
  val qSrmBy: Q = "q_srm_by" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Abtest.srmCheckBy(Tables.events(s, d),
          "user_id % 5", "user_id", salt = "exp1")
        .orderBy(col("segment")),
    s"""WITH $EV,
       |un AS (SELECT DISTINCT user_id % 5 AS segment, user_id AS unit
       |  FROM ev),
       |va AS (SELECT segment,
       |    CAST('0x' || substr(md5(CAST(unit AS VARCHAR) || 'exp1'), 1, 7)
       |      AS BIGINT) % 2 AS variant FROM un),
       |ag AS (SELECT segment,
       |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_a,
       |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_b
       |  FROM va GROUP BY 1)
       |SELECT segment, n_a + n_b AS n_units, n_a, n_b,
       |  (n_a - n_b) * (n_a - n_b) AS srm_num,
       |  n_a + n_b AS srm_den,
       |  CASE WHEN n_a + n_b = 0 THEN NULL
       |    ELSE CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
       |      / CAST(n_a + n_b AS DOUBLE) END AS srm_chi2,
       |  ((n_a - n_b) * (n_a - n_b)) * 100 > 384 * (n_a + n_b) AS mismatch
       |FROM ag ORDER BY segment""".stripMargin)

  /** K-ARM readout ([[graft.ops.Abtest.readoutK]], k = 4): the A/B/n
    * dashboard — one row per arm with its two-proportion z against
    * the control, empty arms still emitting rows, plus the
    * multiplicity pair: `sig_naive` (per-pair 1.96 cut) and
    * `sig_adjusted` (Bonferroni family-α over the k−1 comparisons,
    * the [[graft.ops.Abtest.BonferroniZ05]] literal) — both compare
    * the ROUNDED displayed z, so the booleans are engine-exact. */
  val qAbKarm: Q = "q_ab_karm" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Abtest.readoutK(Tables.events(s, d), "user_id",
          "event_type = 'purchase' AND value > 110", salt = "exp4", k = 4)
        .select(col("variant"), col("n"), col("conv"),
          round(col("rate"), 9).as("rate"),
          round(col("lift_vs_ctrl"), 9).as("lift_vs_ctrl"),
          round(col("z_vs_ctrl"), 6).as("z_vs_ctrl"),
          col("sig_naive"), col("sig_adjusted"), col("sig_holm"))
        .orderBy(col("variant")),
    {
      val rI = "(CAST(conv AS DOUBLE) / CAST(n AS DOUBLE))"
      val r0 = "(CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))"
      val pp = "(CAST(c0 + conv AS DOUBLE) / CAST(n0 + n AS DOUBLE))"
      val noPair = "variant = 0 OR n = 0 OR n0 = 0"
      val zSql =
        s"""CASE WHEN $noPair THEN NULL
           |    ELSE CASE WHEN $pp = 0.0 OR $pp = 1.0 THEN NULL
           |      ELSE ($rI - $r0) / sqrt($pp * (1.0 - $pp)
           |        * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n AS DOUBLE)))
           |      END END""".stripMargin
      val zNaive = graft.ops.Abtest.BonferroniZ05.head
      val zAdj = graft.ops.Abtest.BonferroniZ05(2)
      s"""WITH $EV,
         |un AS (SELECT user_id AS unit,
         |    max(CASE WHEN event_type = 'purchase' AND value > 110
         |      THEN 1 ELSE 0 END) AS converted
         |  FROM ev GROUP BY 1),
         |va AS (SELECT converted,
         |    CAST('0x' || substr(md5(CAST(unit AS VARCHAR) || 'exp4'), 1, 7)
         |      AS BIGINT) % 4 AS variant FROM un),
         |ag AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(converted) AS BIGINT) AS conv FROM va GROUP BY 1),
         |ax AS (SELECT range AS variant FROM range(4)),
         |ar AS (SELECT ax.variant, COALESCE(n, 0) AS n,
         |    COALESCE(conv, 0) AS conv
         |  FROM ax LEFT JOIN ag ON ax.variant = ag.variant),
         |ct AS (SELECT n AS n0, conv AS c0 FROM ar WHERE variant = 0),
         |zc AS (SELECT variant, n, conv,
         |    round(CASE WHEN n = 0 THEN NULL ELSE $rI END, 9) AS rate,
         |    round(CASE WHEN $noPair THEN NULL
         |      ELSE $rI - $r0 END, 9) AS lift_vs_ctrl,
         |    ($zSql) AS z FROM ar, ct),
         |rk AS (SELECT variant, abs(round(z, 6)) AS zr,
         |    row_number() OVER (ORDER BY abs(round(z, 6)) DESC, variant)
         |      AS rk
         |  FROM zc WHERE z IS NOT NULL),
         |hm AS (SELECT variant,
         |    min(CASE WHEN zr >= (CASE rk WHEN 1 THEN $zAdj
         |        WHEN 2 THEN ${graft.ops.Abtest.BonferroniZ05(1)}
         |        ELSE $zNaive END) THEN 1 ELSE 0 END)
         |      OVER (ORDER BY rk
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
         |      AS sig_holm
         |  FROM rk)
         |SELECT zc.variant, n, conv, rate, lift_vs_ctrl,
         |  round(z, 6) AS z_vs_ctrl,
         |  CASE WHEN z IS NULL THEN NULL
         |    ELSE abs(round(z, 6)) >= $zNaive END AS sig_naive,
         |  CASE WHEN z IS NULL THEN NULL
         |    ELSE abs(round(z, 6)) >= $zAdj END AS sig_adjusted,
         |  hm.sig_holm
         |FROM zc LEFT JOIN hm ON zc.variant = hm.variant
         |ORDER BY zc.variant""".stripMargin
    })

  /** K-ARM SRM ([[graft.ops.Abtest.srmCheckK]], k = 4 at the
    * χ²(3, 0.05) = 7.81 cut): the uniform-split guardrail for A/B/n —
    * all-integer chi-square numerator, decimal verdict compare. */
  val qSrmKarm: Q = "q_srm_karm" -> (
    (s: SparkSession, d: String) =>
      graft.ops.Abtest.srmCheckK(Tables.events(s, d), "user_id",
        salt = "exp4", k = 4, thrNum = 781L, thrDen = 100L),
    {
      val cnts = (0 until 4).map(i =>
        s"""CAST(sum(CASE WHEN variant = $i THEN 1 ELSE 0 END) AS BIGINT)
           | AS n_$i""".stripMargin.replace("\n", "")).mkString(",\n|    ")
      val n = (0 until 4).map(i => s"n_$i").mkString(" + ")
      val chi2num = (0 until 4).map(i =>
        s"""CAST(CAST(4 * n_$i - ($n) AS DECIMAL(19,0))
           | * CAST(4 * n_$i - ($n) AS DECIMAL(19,0)) AS DECIMAL(38,0))"""
          .stripMargin.replace("\n", "")).mkString(" + ")
      s"""WITH $EV,
         |un AS (SELECT DISTINCT user_id AS unit FROM ev),
         |va AS (SELECT CAST('0x' || substr(md5(CAST(unit AS VARCHAR)
         |    || 'exp4'), 1, 7) AS BIGINT) % 4 AS variant FROM un),
         |ag AS (SELECT
         |    $cnts
         |  FROM va),
         |st AS (SELECT *, CAST($chi2num AS DECIMAL(38,0)) AS chi2_dec,
         |    4 * ($n) AS chi2_den, ($n) AS n_units FROM ag)
         |SELECT 4 AS k, n_units, n_0, n_1, n_2, n_3,
         |  CAST(chi2_dec AS BIGINT) AS chi2_num, chi2_den,
         |  CASE WHEN n_units = 0 THEN NULL
         |    ELSE CAST(chi2_dec AS DOUBLE) / CAST(chi2_den AS DOUBLE)
         |    END AS srm_chi2,
         |  chi2_dec * 100 > CAST(781 AS DECIMAL(19,0))
         |    * CAST(chi2_den AS DECIMAL(19,0)) AS mismatch
         |FROM st""".stripMargin
    })

  /** [[qAbKarm]] read off the ADDITIVE experiment store
    * ([[graft.ops.Abtest.momentsStoreAppend]] with k = 4, three
    * user-disjoint slices): per-arm counts add across batches, so the
    * A/B/n dashboard equals the one-shot bit-for-bit and the oracle is
    * [[qAbKarm]]'s verbatim. */
  val qAbKarmStored: Q = "q_ab_karm_stored" -> (
    (s: SparkSession, d: String) => {
      // SHARED STORE with q_srm_karm_stored: append parameters MUST
      // stay identical there (marker-gated appendCommit keeps the
      // first writer's content).
      val store = codebookPath(d, "ab_karm_store")
      val ev = Tables.events(s, d)
      (0 to 2).foreach { k =>
        graft.ops.Abtest.momentsStoreAppend(
          ev.filter(pmod(col("user_id"), lit(3)) === k), store, s"b$k",
          "user_id", "event_type = 'purchase' AND value > 110",
          "0", "0", salt = "exp4", k = 4)
      }
      graft.ops.Abtest.readoutKFromStore(s, store, k = 4)
        .select(col("variant"), col("n"), col("conv"),
          round(col("rate"), 9).as("rate"),
          round(col("lift_vs_ctrl"), 9).as("lift_vs_ctrl"),
          round(col("z_vs_ctrl"), 6).as("z_vs_ctrl"),
          col("sig_naive"), col("sig_adjusted"), col("sig_holm"))
        .orderBy(col("variant"))
    },
    qAbKarm._2._2)

  /** [[qSrmKarm]]'s verdict off the same k-arm store — the A/B/n
    * guardrail on the live dashboard; oracle is [[qSrmKarm]]'s
    * verbatim. */
  val qSrmKarmStored: Q = "q_srm_karm_stored" -> (
    (s: SparkSession, d: String) => {
      // SHARED STORE with q_ab_karm_stored: append parameters MUST
      // stay identical there (marker-gated appendCommit keeps the
      // first writer's content).
      val store = codebookPath(d, "ab_karm_store")
      val ev = Tables.events(s, d)
      (0 to 2).foreach { k =>
        graft.ops.Abtest.momentsStoreAppend(
          ev.filter(pmod(col("user_id"), lit(3)) === k), store, s"b$k",
          "user_id", "event_type = 'purchase' AND value > 110",
          "0", "0", salt = "exp4", k = 4)
      }
      graft.ops.Abtest.srmKFromStore(s, store, k = 4,
        thrNum = 781L, thrDen = 100L)
    },
    qSrmKarm._2._2)

  /** Matryoshka truncation eval — recall@3 of TRUNCATED-dimension
    * cosine (first 16 of 64 dims, the MRL deployment question: how
    * much retrieval quality do the cheap prefix dims keep?) against
    * full-dimension brute-force truth, per probe. Same harness shape
    * as [[qAnnRecall]]; the truncation is a map-only `slice`. */
  val qMrlRecall: Q = "q_mrl_recall" -> (
    (s: SparkSession, d: String) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
      val probes = emb.filter(col("vec_id") < 10)
      val truth = Ann.bruteTopK(emb, probes, k = 3)
        .select(col("q_id"), col("n_id"))
      val tEmb = emb.select(col("vec_id"),
        slice(col("embedding"), 1, 16).as("embedding"))
      val approx = Ann.bruteTopK(tEmb, tEmb.filter(col("vec_id") < 10),
          k = 3)
        .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
      truth.join(approx, Seq("q_id", "n_id"), "left_outer")
        .groupBy(col("q_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"),
          count(lit(1)).as("k"))
        .orderBy(col("q_id"))
    },
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_v FROM embeddings
       |  WHERE vec_id < 10),
       |scored_b AS (SELECT q_id, c.vec_id AS n_id,
       |    round(${cosSql("q_v", "c.embedding")}, 6) AS cos
       |  FROM q JOIN embeddings c ON c.vec_id <> q_id),
       |b AS (SELECT q_id, n_id FROM (SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
       |  FROM scored_b) WHERE rank <= 3),
       |tq AS (SELECT vec_id AS q_id, embedding[1:16] AS q_v FROM embeddings
       |  WHERE vec_id < 10),
       |scored_t AS (SELECT q_id, c.vec_id AS n_id,
       |    round(${cosSql("q_v", "c.embedding[1:16]")}, 6) AS cos
       |  FROM tq JOIN embeddings c ON c.vec_id <> q_id),
       |t AS (SELECT q_id, n_id FROM (SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
       |  FROM scored_t) WHERE rank <= 3)
       |SELECT b.q_id,
       |  CAST(count(t.n_id) AS BIGINT) AS n_hit,
       |  CAST(count(*) AS BIGINT) AS k
       |FROM b LEFT JOIN t USING (q_id, n_id)
       |GROUP BY b.q_id ORDER BY b.q_id""".stripMargin)

  /** Mean-metric sequential boundary
    * ([[graft.ops.Abtest.boundaryTraceMean]]): the alpha-spending
    * verdict over the Welch-t monitoring trace — [[qAbBoundary]]'s
    * twin for revenue-style outcomes, same O'Brien–Fleming literal
    * bounds. Oracle replays the mean trace and the bound table. */
  val qAbMeanBoundary: Q = "q_ab_mean_boundary" -> (
    (s: SparkSession, d: String) => {
      // SHARED STORE with q_ab_mean_stored/q_ab_mean_trace: the append
      // parameters here MUST stay identical to those sites
      // (marker-gated appendCommit keeps the first writer's content).
      val store = codebookPath(d, "ab_mean_store")
      val cents = (col("value").cast("decimal(18,2)") * 100).cast("long")
      val ev = Tables.events(s, d).select(col("user_id"), cents.as("cents"))
      (0 to 2).foreach { k =>
        graft.ops.Abtest.momentsStoreAppend(
          ev.filter(pmod(col("user_id"), lit(3)) === k), store, s"b$k",
          "user_id", "false", "cents", "0", salt = "exp13")
      }
      graft.ops.Abtest.boundaryTraceMean(s, store).orderBy(col("tag"))
    },
    {
      def vr(s: String) =
        s"""(CAST(CAST(CAST(CAST(n_$s AS DECIMAL(19,0)) * syy_$s
           | AS DECIMAL(38,0)) - CAST(CAST(sy_$s AS DECIMAL(19,0))
           | * CAST(sy_$s AS DECIMAL(19,0)) AS DECIMAL(38,0))
           | AS DECIMAL(38,0)) AS DOUBLE)
           | / (CAST(n_$s AS DOUBLE) * CAST(n_$s - 1 AS DOUBLE)))"""
          .stripMargin.replace("\n", "")
      val ua = s"(${vr("a")} / CAST(n_a AS DOUBLE))"
      val ub = s"(${vr("b")} / CAST(n_b AS DOUBLE))"
      val mA = "(CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE))"
      val mB = "(CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE))"
      val tiny = "n_a = 0 OR n_b = 0 OR n_a < 2 OR n_b < 2"
      val blocks = (0 to 2).map { k =>
        s"""ag$k AS (SELECT 'b$k' AS tag,
           |    COALESCE(CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)
           |      AS BIGINT), 0) AS n_a,
           |    COALESCE(CAST(sum(CASE WHEN variant = 0 THEN y ELSE 0 END)
           |      AS BIGINT), 0) AS sy_a,
           |    COALESCE(CAST(sum(CASE WHEN variant = 0
           |      THEN CAST(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))
           |        AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END)
           |      AS DECIMAL(38,0)), CAST(0 AS DECIMAL(38,0))) AS syy_a,
           |    COALESCE(CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END)
           |      AS BIGINT), 0) AS n_b,
           |    COALESCE(CAST(sum(CASE WHEN variant = 1 THEN y ELSE 0 END)
           |      AS BIGINT), 0) AS sy_b,
           |    COALESCE(CAST(sum(CASE WHEN variant = 1
           |      THEN CAST(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))
           |        AS DECIMAL(38,0)) ELSE CAST(0 AS DECIMAL(38,0)) END)
           |      AS DECIMAL(38,0)), CAST(0 AS DECIMAL(38,0))) AS syy_b
           |  FROM va WHERE m3 <= $k)""".stripMargin
      }.mkString(",\n|")
      s"""WITH $EV,
         |un AS (SELECT user_id AS unit, user_id % 3 AS m3,
         |    CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
         |      AS BIGINT) AS y
         |  FROM ev GROUP BY 1, 2),
         |va AS (SELECT m3, y, CAST('0x' || substr(md5(CAST(unit AS VARCHAR)
         |    || 'exp13'), 1, 7) AS BIGINT) % 2 AS variant FROM un),
         |$blocks,
         |uu AS (SELECT * FROM ag0 UNION ALL SELECT * FROM ag1
         |  UNION ALL SELECT * FROM ag2),
         |tz AS (SELECT tag, n_a, n_b,
         |    round(CASE WHEN $tiny THEN NULL
         |      ELSE CASE WHEN $ua + $ub <= 0.0 THEN NULL
         |        ELSE ($mB - $mA) / sqrt($ua + $ub) END END, 6) AS t
         |  FROM uu),
         |lk AS (SELECT *, row_number() OVER (ORDER BY tag) AS look FROM tz),
         |bd AS (SELECT *, CASE WHEN look = 1 THEN 3.471
         |    WHEN look = 2 THEN 2.454 WHEN look = 3 THEN 2.004 END AS t_bound
         |  FROM lk),
         |cr AS (SELECT *, CASE WHEN t IS NULL THEN NULL
         |    ELSE abs(t) >= t_bound END AS crossed FROM bd)
         |SELECT tag, look, n_a, n_b, t, t_bound, crossed,
         |  max(CASE WHEN COALESCE(crossed, false) THEN 1 ELSE 0 END)
         |    OVER (ORDER BY tag ROWS BETWEEN UNBOUNDED PRECEDING
         |      AND CURRENT ROW) = 1 AS stopped
         |FROM cr ORDER BY tag""".stripMargin
    })

  /** GROUPED Cochran's Q ([[graft.ops.Stats.cochranQ]] groupCols
    * overload): the k-voter agreement omnibus PER SOURCE — which
    * ingest source do the three lang-ID heuristics actually disagree
    * on? Same voters as [[qCochranQ]]; complete by construction, so
    * the complete-case sums equal the all-item sums per source. */
  val qCochranBy: Q = "q_cochran_by" -> (
    (s: SparkSession, d: String) => {
      val t = col("text")
      def h(lex: Seq[String]) = Text.stopwordHits(t, lex)
      val hEn = h(Seq("the", "a", "of", "and", "to", "in", "is"))
      val hEs = h(Seq("el", "la", "de", "y", "un", "una", "es"))
      val hFr = h(Seq("le", "la", "de", "et", "un", "une", "est"))
      val hDe = h(Seq("der", "die", "das", "und", "ein", "ist", "zu"))
      val v1 = Text.langId(t)
      val v2 = when(hEn > 0, lit("en")).otherwise(lit("und"))
      val v3 = when(hDe > 0 && hDe >= hEs && hDe >= hFr, lit("de"))
        .when(hEs > 0 && hEs >= hFr, lit("es"))
        .when(hFr > 0, lit("fr")).otherwise(lit("und"))
      val votes = Tables.documents(s, d)
        .select(col("source"), col("doc_id"), explode(array(
          struct(lit("v1").as("t"), (v1 === col("lang")).as("s")),
          struct(lit("v2").as("t"), (v2 === col("lang")).as("s")),
          struct(lit("v3").as("t"), (v3 === col("lang")).as("s"))))
          .as("e"))
        .select(col("source"), col("doc_id"), col("e.t").as("t"),
          col("e.s").as("s"))
      graft.ops.Stats.cochranQ(votes, Seq("source"), "doc_id", "t", "s",
          k = 3)
        .orderBy(col("source"))
    },
    {
      def hits(lex: Seq[String]) = {
        val lst = lex.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter($TOKS, t -> list_contains($lst, t)))"
      }
      val de = hits(Seq("der", "die", "das", "und", "ein", "ist", "zu"))
      val en = hits(Seq("the", "a", "of", "and", "to", "in", "is"))
      val es = hits(Seq("el", "la", "de", "y", "un", "una", "es"))
      val fr = hits(Seq("le", "la", "de", "et", "un", "une", "est"))
      s"""WITH h AS (SELECT source, lang, $de AS h_de, $en AS h_en,
         |    $es AS h_es, $fr AS h_fr FROM documents),
         |sc AS (SELECT source,
         |    CASE WHEN (CASE
         |      WHEN h_de > 0 AND h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
         |      WHEN h_en > 0 AND h_en >= h_es AND h_en >= h_fr THEN 'en'
         |      WHEN h_es > 0 AND h_es >= h_fr THEN 'es'
         |      WHEN h_fr > 0 THEN 'fr'
         |      ELSE 'und' END) = lang THEN 1 ELSE 0 END AS s1,
         |    CASE WHEN (CASE WHEN h_en > 0 THEN 'en' ELSE 'und' END) = lang
         |      THEN 1 ELSE 0 END AS s2,
         |    CASE WHEN (CASE
         |      WHEN h_de > 0 AND h_de >= h_es AND h_de >= h_fr THEN 'de'
         |      WHEN h_es > 0 AND h_es >= h_fr THEN 'es'
         |      WHEN h_fr > 0 THEN 'fr'
         |      ELSE 'und' END) = lang THEN 1 ELSE 0 END AS s3
         |  FROM h),
         |ag AS (SELECT source, CAST(count(*) AS BIGINT) AS n_items,
         |    CAST(sum(s1) AS BIGINT) AS t1, CAST(sum(s2) AS BIGINT) AS t2,
         |    CAST(sum(s3) AS BIGINT) AS t3,
         |    CAST(sum((s1 + s2 + s3) * (s1 + s2 + s3)) AS BIGINT) AS sum_ui2
         |  FROM sc GROUP BY 1),
         |st AS (SELECT source, n_items, CAST(0 AS BIGINT) AS bad_items,
         |    t1 + t2 + t3 AS n_success,
         |    t1 * t1 + t2 * t2 + t3 * t3 AS sum_tj2, sum_ui2
         |  FROM ag),
         |qq AS (SELECT *,
         |    CAST(CAST(2 AS DECIMAL(19,0)) * CAST(CAST(CAST(3 AS DECIMAL(19,0))
         |      * CAST(sum_tj2 AS DECIMAL(19,0)) AS DECIMAL(38,0))
         |      - CAST(CAST(n_success AS DECIMAL(19,0))
         |        * CAST(n_success AS DECIMAL(19,0)) AS DECIMAL(38,0))
         |      AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS q_dec,
         |    3 * n_success - sum_ui2 AS q_den
         |  FROM st)
         |SELECT source, 3 AS k, n_items, bad_items, n_success, sum_tj2,
         |  sum_ui2, CAST(q_dec AS BIGINT) AS q_num, q_den,
         |  CASE WHEN q_den = 0 THEN NULL
         |    ELSE CAST(q_dec AS DOUBLE) / CAST(q_den AS DOUBLE) END AS q
         |FROM qq ORDER BY source""".stripMargin
    })

  /** All oracle-checked queries, in SURVEY §2 inventory order. */
  val all: Seq[Q] = Seq(
    qDashboard, qUsage, qProduction,
    q1Agg, q3Join, q5Join,
    qDistinct, qExcept, qIntersect, qExceptAll,
    qCount, qThreshold,
    qJoinLeft, qJoinSemi, qJoinAnti, qAsOf, qAsOfTol, qRangeJoin,
    qTopK, qWindowRunning, qWindowFrame, qMaxBy, qMinMax, qRollup, qCube,
    qPivot,
    qCountDistinct, qPercentile, qApproxDistinct, qApproxQuantile,
    qDedupExact, qFingerprint, qRollingFp, qTokenCount, qLangId, qQuality,
    qMinhashLsh, qDecontaminate, qNgramDecontam, qRepetition,
    qNgramJaccard, qSimhash, qSimhashPairs,
    qEmbedNearDup,
    qAnnBrute, qAnnLsh, qAnnIvf, qMultimodal,
    qPayloadDecode, qLookback, qCorpusPipeline, qTokenBpe,
    qSampleHash, qStratified, qMixWeighted, qPackSeq, qTfidf, qRedact,
    qShuffleExport, qDupClusters, qSplits, qLengthBuckets, qChunk,
    qAsOfFwd, qPqAnn, qHeavyHitters, qZorder, qIvfPq, qSessions,
    qWeightedSample, qTrending, qSemDedup, qUnigramQuality, qCorpusDrift,
    qTemperatureMix, qSemDecontam, qCurationPipeline, qIvfPqStored,
    qSemDedupDiv, qSemDedupStored, qDupSpans, qBigramQuality, qContamFrac,
    qDomainCap, qBloomDecontam, qQualityClassifier, qBloomStored,
    qLeakageSplit, qExportShards, qBudgetMix, qNgramContainment,
    qQcStored, qSpanDedup, qMinhashStored, qSpanDedupStored, qBoilerplate,
    qDsir, qAnnInt8, qHardNegatives,
    qGopherQuality, qCorpusDiff, qWeightedQuantile,
    qPooledEmbed, qDatasetCard, qNearestDoc, qBpeMerges, qBpeEncode,
    qAnnRecall, qBpePack, qLshRecall, qBpeFertility, qCurationFunnel,
    qLshTune, qDupSpansGuard, qSpanDedupGuard, qMinhashAppend, qSpanAppend,
    qPcaCov, qPcaRecall, qWpVocab, qWpEncode, qNovelty, qCurriculum,
    qUnigramTokens, qRandProj, qPcaIncremental, qTokenizerCard,
    qCopurchase, qTransitions, qAttribution, qOhlc, qSourceOverlap, qRfm,
    qInterp, qRollingDau, qUserFeatures, qDqChecks,
    qLookbackPartitioned, qMediaCard, qCooccur, qCopurchaseStored,
    qEditDup, qSaltedSum, qScd2, qDqStored, qEditDupStored,
    qWinnow, qWinnowPairs, qCdcChunks, qCdcDedup, qPplBuckets, qAnnRerank,
    qWinnowStored, qProcrustes, qAnnMetrics, qAnnMultiProbe,
    qCohort, qFunnelSteps, qResample, qNgramPrefix, qRollingZ,
    qRateLimit, qFunnelWindowed, qIvfPqCompact, qAggViewUnion, qBm25,
    qBm25Capped,
    qPiiScrub, qPageRank, qEntityMatch, qDomainTerms, qEwma,
    qEntityClusters, qPpr, qKatz, qKanon, qNormalize,
    qPageRankDirected, qTriangles, qHits, qLpa, qEntityMatchCapped,
    qImageNearDup, qLinkPredict, qKcore, qReadability,
    qImageNearDupStored, qAnnMmr, qKeywords, qHybridRrf,
    qPageRankWeighted, qHarmonic,
    qHllCard, qHllStored, qCmsFreq, qCmsStored,
    qLinkPredictRa, qAssortativity, qGoldenRecord,
    qHistQuantiles, qHistStored, qCentralChunks,
    qFdProfile, qProfileCard, qHllWindow, qHistBySource, qFdStored,
    qTrend,
    qHllOverlap, qEntityPhonetic, qSeasonal, qSnapshotDiff,
    qSeasonalStored, qScoreCalibrate, qSourceJsonl, qSourceCsv,
    qCmsJoinSize, qTableStats, qRrDp, qSourceOrc, qPageRankStored,
    qIqrOutliers, qAbReadout, qScoreCalibrateHist, qIqrStored,
    qBlocklist, qRendezvous, qDecayed, qDecayedStored, qSimpson,
    qSplitPoints, qTrimmedMean, qCanonicalPick, qCurationV2, qNeyman,
    qHistAsof, qDecayedAsof, qBlocklistStored, qRendezvousWeighted,
    qCusum, qCusumStored, qRangeAssign, qFano, qGini,
    qMannWhitney, qKsTest, qKappaLangid, qChi2Assoc, qGkLambda,
    qSpearman, qKsDriftStored,
    qWilcoxon, qMcnemar, qFleissKappa, qMedianTest, qKsDriftAsof,
    qBootstrapSe, qLooInfluence, qCuped,
    qSpecificAgreement, qBenford, qMde, qAbRatio,
    qBootstrapStored, qMannWhitneyBy, qAbCi, qRankBiserial, qOddsRatio,
    qKappaBy, qChi2By, qGkLambdaBy, qSpearmanBy,
    qAbStored, qCupedStored, qBootstrapAsof, qBlocklistAsof,
    qSrm, qPermutation, qMdeMean, qAbAsof, qAbBy,
    qKruskal, qCochranQ, qKendall,
    qSrmStored, qHllAsof, qCmsAsof,
    qTvdStored, qKsDriftBy,
    qAbStratified, qQte,
    qAbMean, qAbMeanStored, qAbTrace,
    qQteStored, qQteAsof, qAbMeanTrace, qAbBoundary,
    qUrlCanon, qUrlDedup, qKruskalBy,
    qSrmTrace, qCupedTrace, qKendallBy,
    qQteTrace, qHistTrace, qRandomWalks,
    qWalkPairs, qAbWinsorized, qSrmBy,
    qAbKarm, qSrmKarm, qAbKarmStored, qSrmKarmStored, qMrlRecall,
    qAbMeanBoundary, qCochranBy,
    qRandomWalksStored, qWalkPairsStored, qWalksWeighted, qWalksNode2vec,
    qNegativeSamples, qBetweenness, qAbCupedKarm, qAbCupedKarmStored,
    qWalksN2vWeighted,
  )
}
