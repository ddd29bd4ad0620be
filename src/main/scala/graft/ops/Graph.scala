package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed graph analytics over plain edge lists.
  *
  * Beyond the reference surface: the co-purchase / co-occurrence graphs the
  * engine already builds (Baskets.frequentPairs, TextStats.cooccurrence,
  * Dedup.duplicateClusters' edge lists) invite centrality queries; this is
  * the iterative companion to the union-find clustering in
  * Dedup.duplicateClusters.
  *
  * Algorithm: PageRank (Brin & Page 1998, "The anatomy of a large-scale
  * hypertextual Web search engine") with a FIXED iteration count so the
  * result is a deterministic function of the edge list — the oracle can
  * replay the same unrolled recurrence.
  *
  * Scale: each iteration is exactly one shuffle-join (edges ⋈ ranks on src)
  * plus one aggregation (contributions by dst). The (src, dst, deg) edge
  * relation is persisted ONCE and reused by every iteration, so the per-
  * iteration cost is |E| shuffled bytes — never a cartesian, never
  * driver-side iteration over nodes. Rank state is 16 bytes per node.
  * Contribution sums run in fixed-point longs (floor(x·1e18)) so the
  * per-node inbound mass is order-free exact (the q1_agg convention, at
  * long-sum speed): the final ranks are bit-identical across
  * partitionings, engines, and retries.
  */
object Graph {

  private val Lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** Deterministically release the block-manager storage behind a
    * `localCheckpoint(true)`'d ROUND frame once the loop no longer
    * reads it. `Dataset.unpersist` and `spark.catalog.clearCache` both
    * operate on the CACHE MANAGER and do NOT free RDD-level local-
    * checkpoint blocks — without this, every iterative loop's storage
    * footprint grows with the round count until JVM GC + ContextCleaner
    * happen to reclaim the unreferenced RDDs.
    *
    * Only the analyzed plan's ROOT is inspected: a checkpointed round
    * frame IS a `LogicalRDD` root, while a round-0 state (persisted or
    * projected) has some other root and the call is a no-op. Walking
    * the whole plan would follow a round-0 state's lineage into the
    * caller's input and drop a `localCheckpoint`ed edge frame the
    * caller still reads (GraphSpec's release test). */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          // the call `RDD.unpersist` makes, minus its WARN that a
          // locally checkpointed RDD cannot be recomputed: this release
          // is intended, once per round
          org.apache.spark.sql.graftbridge.RddBridge.release(l.rdd)
        case _ => ()
      }

  /** The round scaffold of the fixed-count loops: each round pins
    * `step(round, state)` behind `localCheckpoint(true)`, then releases
    * the previous state (its blocks are dead once the successor is
    * materialized). Checkpoint per round, NOT persist: each round's plan
    * nests the previous round's, and the cache substitutes only AFTER
    * the whole grown tree is re-analyzed — driver planning cost
    * quadratic in rounds (measured at sf0.1: iters=8 cost 9× iters=2
    * under persist; linear with checkpoints, BENCH_NOTES r15). The final
    * state stays checkpointed: the CALLER owns releasing it (or Verify's
    * between-query clearCache) — the bm25TopK/tokenTable convention. */
  private def iterate(init: DataFrame, rounds: Int)
                     (step: (Int, DataFrame) => DataFrame): DataFrame =
    (1 to rounds).foldLeft(init) { (state, round) =>
      val next = step(round, state).localCheckpoint(true)
      releaseCheckpoint(state)
      next
    }

  /** The (src, dst) edge relation a loop iterates over, unpinned (the
    * caller persists or checkpoints it). `symmetric` reads the input as
    * UNDIRECTED: both directions are unioned in and self loops dropped.
    * `prepared` is the caller's construction guarantee that the input
    * already has that shape — duplicate-free, and for `symmetric` both
    * directions exactly once with no self loops ([[copurchaseEdges]]'
    * contract) — so the dedup exchange is the identity and is skipped
    * (optimization r16, guide §2.4: "a distinct on data that is already
    * unique"). Results are identical when the guarantee holds. */
  private def edgeList(edges: DataFrame, srcCol: String, dstCol: String,
                       prepared: Boolean, symmetric: Boolean = false): DataFrame = {
    val dir = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    if (prepared) dir
    else if (symmetric)
      dir.union(dir.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst")).distinct()
    else dir.distinct()
  }

  /** The canonical (a < b) pair set of an UNDIRECTED edge list, unpinned:
    * one row per unordered pair, reverses, duplicates and self loops
    * collapsed by one least/greatest dedup exchange. `symmetricDistinct`
    * is the caller's construction guarantee that the input holds both
    * directions of every edge exactly once with no self loops
    * ([[copurchaseEdges]]' contract): each unordered pair then appears
    * exactly once with src < dst, so the pair set is a MAP-SIDE filter
    * and the dedup exchange over 2|E| rows is skipped (optimization r16,
    * guide §2.4). Results are identical when the guarantee holds. */
  private def canonicalPairs(edges: DataFrame, srcCol: String, dstCol: String,
                             symmetricDistinct: Boolean): DataFrame =
    if (symmetricDistinct)
      edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
        .filter(col("a") < col("b"))
    else edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Both ends of every canonical pair as (w, n) rows: the undirected
    * adjacency, re-expanded MAP-SIDE from the pair set. */
  private def pairEnds(e: DataFrame): DataFrame =
    e.select(col("a").as("w"), col("b").as("n"))
      .unionAll(e.select(col("b").as("w"), col("a").as("n")))

  private val BroadcastStateRows = "spark.graft.broadcastStateRows"

  /** Size-gated broadcast of a MEASURED loop-state frame (optimization
    * r17, guide §3.1). Every iterative loop here keeps its node- or
    * (seed × node)-sized state behind `localCheckpoint` leaves whose
    * statistics the planner cannot see, so the per-round join against
    * the |E|-sized cached relation plans as a shuffle join and the |E|
    * side pays a full exchange (plus sort) EVERY ROUND; AQE's runtime
    * SMJ→BHJ conversion fires only after those exchanges have already
    * been materialized, so it saves the sort but never the exchange.
    * The loops all KNOW their state row count (they count the
    * materialized frame for convergence/normalization anyway), so the
    * broadcast decision is made the scale-adaptive way — from the
    * measured size at runtime, never unconditionally: below the gate
    * the state is broadcast and the |E| relation streams from cache
    * with zero per-round exchange; above it the shuffle plan engages
    * unchanged (the 100 TB fallback). Join strategy cannot change
    * results. The gate is conf-parameterized
    * (`spark.graft.broadcastStateRows`, default 4M rows ≈ 100–250 MB
    * built, inside the guide's "few hundred MB is fine" envelope) so a
    * deployment sizes it to executor memory; a gate ≤ 0 never
    * broadcasts, `rows < 0` means unknown and never broadcasts, and a
    * value that is not a whole number fails naming the setting. */
  private[graft] def bcastIfSmall(df: DataFrame, rows: Long): DataFrame = {
    val gate = df.sparkSession.conf.getOption(BroadcastStateRows).fold(4000000L) { v =>
      v.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$BroadcastStateRows must be a whole number of rows, got '$v'"))
    }
    if (gate > 0L && rows >= 0L && rows <= gate) broadcast(df) else df
  }

  /** PageRank over a DIRECTED edge list.
    *
    * Two modes:
    *  - `dangling = false` (default): the node set is the distinct SOURCE
    *    set, i.e. the helper assumes every node has out-degree >= 1 (true
    *    by construction when both directions of an undirected graph are
    *    passed, as [[copurchaseEdges]] does). Rank mass leaving the graph
    *    through sink nodes is NOT redistributed; a directed edge list
    *    with sinks should use `dangling = true` instead.
    *  - `dangling = true`: the node set is `distinct(src) ∪ distinct(dst)`
    *    and each iteration redistributes the rank mass sitting on
    *    out-degree-0 nodes uniformly over all nodes (the standard
    *    dangling-node correction, Brin & Page 1998 §2.1.1) — the
    *    directed-graph-with-sinks form. The dangling share stays on the
    *    fixed-point grid (integer `floor(dm / n)` division), so the
    *    result is still bit-replayable by an unrolled oracle.
    *
    * In BOTH modes every iteration left-joins the aggregated inbound mass
    * back onto the full node set, so a node with in-degree 0 keeps its
    * rank row (rank = base + redistributed share) and its outgoing
    * contributions survive into later iterations — the "one row per
    * distinct node" contract holds for any directed input.
    *
    * @param edges    two columns, (srcCol, dstCol); duplicates are collapsed
    * @param iters    fixed number of power iterations (>= 1; deterministic)
    * @param damping  PageRank damping factor d; rank = (1-d)/n + d * inMass
    * @param dangling redistribute sink-node mass (directed graphs with sinks)
    * @param edgesDistinct input has NO duplicate (src, dst) rows — a
    *                 construction guarantee (e.g. [[copurchaseEdges]]'
    *                 distinct-by-build output), skipping the |E|-row
    *                 dedup exchange (optimization r16, guide §2.4:
    *                 "a distinct on data that is already unique").
    *                 Results are identical when the guarantee holds.
    * @return (node, rank) — one row per distinct node, rank a raw double
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, damping: Double = 0.85,
               dangling: Boolean = false,
               edgesDistinct: Boolean = false): DataFrame = {
    require(iters >= 1, "pageRank needs at least one iteration")
    // The raw edge list feeds the degree table and the loop relation —
    // persist it so an expensive upstream lineage (e.g. the co-purchase
    // pair build) runs ONCE, not once per branch.
    val e = edgeList(edges, srcCol, dstCol, edgesDistinct).persist(Lvl)
    // out-degree: the per-source weight total `sw` at w = 1
    val deg = e.groupBy("src").agg(count(lit(1)).cast("long").as("sw"))
      .persist(Lvl)
    // Without dangling handling, deg doubles as the NODE SET (its keys
    // are the distinct sources — every node, under the out-degree>=1
    // invariant); with it, sinks appear only as destinations and the
    // node set is the union of both sides.
    val nodes = (if (!dangling) deg.select(col("src").as("node"))
      else e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct())
      .persist(Lvl)
    val n = nodes.count() // one driver scalar (node count), not row data
    // out-degree-0 nodes: their whole rank is redistributed each round.
    // Node-sized, loop-invariant — persist once.
    val sinks = Option.when(dangling)(nodes
      .join(deg.withColumnRenamed("src", "node"), Seq("node"), "left_anti")
      .persist(Lvl))
    val ranks = powerIteration(e, deg, lit(1L),
      nodes.select(col("node"), lit((1.0 - damping) / n).as("base")), n,
      nodes.withColumn("rank", lit(1.0 / n)), iters, damping, sinks)
    deg.unpersist(); nodes.unpersist(); sinks.foreach(_.unpersist())
    ranks
  }

  /** The power-iteration loop shared by [[pageRank]],
    * [[personalizedPageRank]] and [[pageRankWeighted]]: `iters` rounds of
    *
    *   rank(v) = base(v) + d · (Σ_{u→v} floor(rank(u)·w/sw(u)·1e18) + dshare) / 1e18
    *
    * Each round is exactly one join of the cached |E| relation against
    * the rank state plus one aggregation by dst — never a cartesian,
    * never driver-side iteration over nodes. The per-edge share
    * rank·w/sw is the identical IEEE expression in any engine (with
    * w = 1 it is bit-identical to rank/deg), and the inbound mass sums
    * in fixed-point longs (floor(x·1e18) — per-node mass ≤ total mass 1,
    * so the scaled sum fits a long; long sums codegen far faster than
    * Decimal128), so the ranks are order-free exact: bit-identical across
    * partitionings, engines, and retries.
    *
    * @param e     persisted edge relation (src, dst[, w]). The loop-
    *              invariant relation e ⋈ sw is persisted once and reused by
    *              every round; round 1 materializes it, after which `e`
    *              is dropped.
    * @param sw    persisted per-source weight total (src, sw)
    * @param w     the per-edge weight: a column of `e`, or lit(1)
    * @param reset (node, base) over the FULL node set of `n` rows. Every
    *              round left-joins the inbound mass onto it, so a
    *              zero-in-degree node keeps its row (and its reset mass),
    *              and its out-edges keep contributing next round.
    * @param sinks pageRank's dangling mode: the out-degree-0 nodes, whose
    *              whole rank is redistributed uniformly each round
    */
  private def powerIteration(e: DataFrame, sw: DataFrame, w: Column,
                             reset: DataFrame, n: Long, init: DataFrame,
                             iters: Int, damping: Double,
                             sinks: Option[DataFrame]): DataFrame = {
    val eW = e.join(sw, "src").persist(Lvl)
    val ranks = iterate(init, iters) { (round, ranks) =>
      if (round == 2) e.unpersist() // eW is cached now; drop its input
      // node-sized rank state (n rows, counted): broadcast under the
      // gate so the persisted |E| relation streams from cache with no
      // per-round exchange/sort (optimization r17, bcastIfSmall note)
      val inMass = bcastIfSmall(eW
        .join(bcastIfSmall(ranks.withColumnRenamed("node", "src"), n), "src")
        .select(col("dst").as("node"),
          floor(col("rank") * w / col("sw") * lit(1e18)).cast("long").as("c"))
        .groupBy("node").agg(sum(col("c")).as("in_mass")), n)
      val joined = reset.join(inMass, Seq("node"), "left")
      // dangling mode: per-node share of the sink mass = integer
      // floor(dm / n) on the same fixed-point grid (1-row aggregate,
      // broadcast by the cross join — never a driver-side collect)
      val (shared, dshare) = sinks.fold((joined, lit(0L))) { s =>
        (joined.crossJoin(ranks.join(s, Seq("node"))
          .agg(coalesce(sum(floor(col("rank") * lit(1e18)).cast("long")),
            lit(0L)).as("dm"))
          // integer div, NOT floor(double /): dm ≈ 1e18 exceeds 2^53,
          // so double division would round the share off the grid
          .select(expr(s"dm div ${n}L").cast("long").as("dshare"))),
          col("dshare"))
      }
      shared.select(col("node"),
        (col("base") + lit(damping) *
          ((coalesce(col("in_mass"), lit(0L)) + dshare).cast("double") /
            lit(1e18))).as("rank"))
    }
    e.unpersist(); eW.unpersist()
    ranks
  }

  /** Personalized PageRank (Haveliwala 2002, "Topic-sensitive PageRank"):
    * the reset mass lands only on the SEED set, so rank concentrates in
    * the seeds' neighborhood — the "related items" / recommendation form
    * of the centrality loop. Same loop as [[pageRank]]
    * ([[powerIteration]]); the per-node reset vector is a node-sized
    * cached indicator joined after each aggregation. Seeds outside the
    * node set are ignored.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String,
                           iters: Int, damping: Double = 0.85,
                           edgesDistinct: Boolean = false): DataFrame = {
    require(iters >= 1, "personalizedPageRank needs at least one iteration")
    val e = edgeList(edges, srcCol, dstCol, edgesDistinct).persist(Lvl)
    val deg = e.groupBy("src").agg(count(lit(1)).cast("long").as("sw"))
      .persist(Lvl)
    val nodes = deg.select(col("src").as("node"))
    // node-sized seed indicator; ONE materializing action serves both the
    // seed count and the loop's reset joins (node ∈ seeds ⇔ s non-null —
    // intersecting here is what makes superset seed sources equivalent)
    val reset = nodes
      .join(seeds.select(col(seedCol).as("node")).distinct()
        .withColumn("s", lit(1)), Seq("node"), "left")
      .select(col("node"), col("s").isNotNull.as("is_seed"))
      .persist(Lvl)
    val nS = reset.filter(col("is_seed")).count()
    require(nS > 0, "no seed intersects the node set")
    // node count off the already-materialized node-sized cache (one
    // cached-block scan) — it gates the loop-state broadcasts
    val nN = reset.count()
    val ranks = powerIteration(e, deg, lit(1L),
      reset.select(col("node"), when(col("is_seed"), lit((1.0 - damping) / nS))
        .otherwise(lit(0.0)).as("base")), nN,
      reset.select(col("node"),
        when(col("is_seed"), lit(1.0 / nS)).otherwise(lit(0.0)).as("rank")),
      iters, damping, None)
    deg.unpersist(); reset.unpersist()
    ranks
  }

  /** Truncated Katz centrality (Katz 1953): x = Σ_{k=1..iters} α^k A^k 1,
    * via the recurrence x_m = α·A·(1 + x_{m-1}) — influence that counts
    * walks of every length up to `iters`, damped by α per hop. No
    * normalization step (unlike eigenvector centrality), so with a
    * DYADIC α (default 1/4) every value is an exact multiple of
    * 4^-iters: plain double sums are order-free EXACT (each partial sum
    * is an integer multiple of the grid < 2^53) and the result is
    * bit-identical to the oracle's unrolled recurrence — no fixed-point
    * scaling needed. The 2^53 grid bound is now VALIDATED, not just
    * documented: max in-degree is read off the first hop's aggregate
    * (one driver scalar) and iters·max(maxdeg, alphaInv)^iters — a
    * conservative majorant of x_iters·alphaInv^iters — must stay under
    * 2^53, else the call fails loudly instead of returning quietly
    * rounded values.
    *
    * The recurrence holds on any DIRECTED input: each hop LEFT-joins
    * x_{m-1} onto the edge relation, so an in-neighbor that itself has
    * zero in-degree (no x row) still contributes its `+1` walk — the
    * output node set is the distinct-destination set.
    *
    * Same loop shape as [[pageRank]]: persisted edge relation, one
    * |E| join + aggregation per hop.
    */
  def katzCentrality(edges: DataFrame, srcCol: String, dstCol: String,
                     iters: Int, alphaInv: Int = 4,
                     edgesDistinct: Boolean = false): DataFrame = {
    require(iters >= 1 && alphaInv >= 2 && (alphaInv & (alphaInv - 1)) == 0,
      "alphaInv must be a power of two (dyadic α keeps sums exact)")
    val e = edgeList(edges, srcCol, dstCol, edgesDistinct).persist(Lvl)
    val indeg = e.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).cast("long").as("indeg"))
      .persist(Lvl)
    // grid-exactness guard: every partial sum at hop m is an integer
    // multiple of alphaInv^-m bounded by Σ_{k≤m} maxdeg^k·alphaInv^(m-k)
    // ≤ m·max(maxdeg, alphaInv)^m; checked in log2 so the check itself
    // cannot overflow
    val maxDeg = indeg.agg(max(col("indeg"))).head().getLong(0)
    val log2Bound = (math.log(iters.toDouble) +
      iters * math.log(math.max(maxDeg, alphaInv).toDouble)) / math.log(2.0)
    require(log2Bound < 53.0,
      s"katzCentrality: iters=$iters over max in-degree $maxDeg exceeds the " +
        s"2^53 dyadic grid (bound 2^${log2Bound.ceil.toInt}); lower iters " +
        "or raise alphaInv")
    val x1 = indeg
      .select(col("node"),
        (col("indeg").cast("double") / lit(alphaInv)).as("x")) // α·indeg
      .persist(Lvl)
    val nN = x1.count() // node count — gates the state broadcasts (r17)
    indeg.unpersist()
    // hops 2..iters. LEFT join: an in-neighbor with no x row (zero
    // in-degree) still contributes its +1 walk — x_m = α·Σ_in (1 +
    // x_{m-1}) exactly. Node-sized x state broadcast under the gate: the
    // persisted |E| relation streams with no per-hop exchange (r17)
    val ranks = iterate(x1, iters - 1) { (_, x) =>
      e.join(bcastIfSmall(x.withColumnRenamed("node", "src"), nN),
          Seq("src"), "left")
        .groupBy(col("dst").as("node"))
        .agg((sum(lit(1.0) + coalesce(col("x"), lit(0.0))) / lit(alphaInv)).as("x"))
    }
    // round 1 is materialized, so the persisted round-0 state is dead
    // (releaseCheckpoint cannot see it: its root is no LogicalRDD); at
    // iters = 1 it IS the result and stays caller-owned
    if (iters > 1) x1.unpersist()
    e.unpersist()
    ranks
  }

  /** Per-node triangle counts and local clustering coefficient over an
    * UNDIRECTED graph (the edge list may carry either direction, both,
    * or canonical pairs — reverses, duplicates, and self-loops are
    * collapsed here first).
    *
    * Algorithm: degree-ordered orientation (Chiba & Nishizeki 1985;
    * the MapReduce form in Suri & Vassilvitskii 2011, "Counting
    * triangles and the curse of the last reducer"): orient every
    * undirected edge from the endpoint with the smaller (degree, id)
    * to the larger. Each triangle then has exactly ONE wedge rooted at
    * its minimum-(deg, id) corner, so the wedge self-join emits every
    * triangle once, and — the scale property — the oriented out-degree
    * is O(√|E|), so the wedge count is bounded by Σ_v outdeg(v)² ≤
    * O(|E|^1.5) REGARDLESS of skew. A naive neighbor self-join on a
    * star graph is quadratic in the hub degree; oriented, the hub has
    * out-degree ~0 and the star contributes no wedges at all — this is
    * the "curse of the last reducer" fix, and it is what lets the same
    * plan run at 100 TB.
    *
    * Plan shape: canonical pairs → degree agg → two joins pin both
    * endpoint degrees → one self-join on the wedge root + one join
    * against the oriented edge set closes each wedge → explode the 3
    * corners → count per node. All-integer throughout; the clustering
    * coefficient 2T/(deg·(deg−1)) is one IEEE division at the end.
    *
    * @return (node, deg, triangles, lcc) — one row per node of the
    *         undirected graph, lcc 0.0 when deg < 2
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String,
                     symmetricDistinct: Boolean = false): DataFrame = {
    val e = canonicalPairs(edges, srcCol, dstCol, symmetricDistinct).persist(Lvl)
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).cast("long").as("deg"))
      .persist(Lvl)
    // orientation by (deg, id): u -> v iff (deg_u, u) < (deg_v, v);
    // carry dv so the wedge join can order its two far endpoints the
    // same way without a third degree join
    val o = e
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("a"))
          .otherwise(col("b")).as("u"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("v"),
        greatest(col("da"), col("db")).as("dv"))
      .persist(Lvl)
    // wedges rooted at u, far endpoints ordered by the SAME (deg, id)
    // order the orientation uses — the closing edge is then oriented
    // x -> y by construction, so one equi-join against o closes it
    val e1 = o.select(col("u"), col("v").as("x"), col("dv").as("dx"))
    val e2 = o.select(col("u"), col("v").as("y"), col("dv").as("dy"))
    val triangles = e1.join(e2, Seq("u"))
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
      .join(o.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
      .select(col("u"), col("x"), col("y"))
    val corners = triangles.select(col("u").as("node"))
      .unionAll(triangles.select(col("x").as("node")))
      .unionAll(triangles.select(col("y").as("node")))
    val counts = corners.groupBy("node").agg(count(lit(1)).cast("long").as("t"))
    val out = deg.join(counts, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("t"), lit(0L)).as("triangles"),
        when(col("deg") >= 2,
          lit(2.0) * coalesce(col("t"), lit(0L)) /
            (col("deg") * (col("deg") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("lcc"))
    // e/deg/o stay persisted until the caller's action completes;
    // caller (or Verify's between-query clearCache) owns the release —
    // the bm25TopK/tokenTable convention. Unpersisting here would
    // drop the caches before the lazy result ever ran.
    out
  }

  /** Truncated HITS (Kleinberg 1999, "Authoritative sources in a
    * hyperlinked environment") over a DIRECTED edge list, with EXACT
    * integer iterates: both scores start at 1 on every node, then
    * `iters` rounds of
    *
    *   auth_m(v) = Σ_{u→v} hub_{m-1}(u);  hub_m(u) = Σ_{u→v} auth_m(v)
    *
    * with NO per-round normalization — every iterate is a walk count
    * (an integer), so long sums are order-free exact and the unrolled
    * oracle replays them bit-for-bit. One L1 normalization at the END
    * (a single IEEE long→double division per score) makes the output
    * comparable across graphs; the [[katzCentrality]]-style grid guard
    * validates n·(maxInDeg·maxOutDeg)^iters < 2^53 — conservative
    * majorant of the normalizing sums — so overflow fails loudly.
    *
    * Scale: node-sized score vectors, one |E| join + one agg per half-
    * round over a persisted edge relation — the pageRank loop shape.
    *
    * @return (node, hub, auth) — one row per node (src ∪ dst), scores
    *         L1-normalized doubles (each sums to 1 over the graph)
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int, edgesDistinct: Boolean = false): DataFrame = {
    require(iters >= 1, "hits needs at least one iteration")
    val e = edgeList(edges, srcCol, dstCol, edgesDistinct).persist(Lvl)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .persist(Lvl)
    val n = nodes.count()
    val maxIn = e.groupBy("dst").agg(count(lit(1)).as("c"))
      .agg(max(col("c"))).head().getLong(0)
    val maxOut = e.groupBy("src").agg(count(lit(1)).as("c"))
      .agg(max(col("c"))).head().getLong(0)
    val log2Bound = (math.log(n.toDouble) +
      iters * math.log(maxIn.toDouble * maxOut)) / math.log(2.0)
    require(log2Bound < 53.0,
      s"hits: $iters iterations over maxInDeg=$maxIn × maxOutDeg=$maxOut " +
        s"exceeds the exact-long bound (2^${log2Bound.ceil.toInt}); lower iters")
    var hub = nodes.withColumn("h", lit(1L)).persist(Lvl)
    var auth: DataFrame = null
    // hand-written, not [[iterate]]: a round checkpoints TWO frames (auth,
    // then hub from it) and releases the previous round's pair
    for (_ <- 1 to iters) {
      // full-node-set left joins: a node with no in-edges keeps an
      // auth row of 0 (and symmetrically for hubs) — the pageRank
      // row-keep contract, so the output is one row per node.
      // localCheckpoint per half-round, NOT persist (the [[iterate]]
      // lineage note). Node-sized score state broadcast under the gate
      // (n counted): neither half-round exchanges the persisted |E|
      // relation, and the node-set left joins build from the n-row
      // aggregate (r17)
      val a = nodes.join(bcastIfSmall(
          e.join(bcastIfSmall(hub.withColumnRenamed("node", "src"), n), "src")
            .groupBy(col("dst").as("node")).agg(sum(col("h")).as("s")), n),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("s"), lit(0L)).as("a"))
        .localCheckpoint(true)
      val h = nodes.join(bcastIfSmall(
          e.join(bcastIfSmall(a.withColumnRenamed("node", "dst"), n), "dst")
            .groupBy(col("src").as("node")).agg(sum(col("a")).as("s")), n),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("s"), lit(0L)).as("h"))
        .localCheckpoint(true)
      // both half-round reads are done: release the PREVIOUS round's
      // blocks (round 1's hub is the persisted init, a cached frame and
      // no checkpoint, so it is unpersisted instead)
      if (auth == null) hub.unpersist()
      else { releaseCheckpoint(auth); releaseCheckpoint(hub) }
      auth = a; hub = h
    }
    // one-row L1 totals, broadcast by the cross join (never a collect
    // of row data); guarded above, both totals fit exactly in a long
    // and (being < 2^53) convert to double losslessly
    val totals = hub.join(auth, "node")
      .agg(sum(col("h")).as("th"), sum(col("a")).as("ta"))
    val out = hub.join(auth, "node").crossJoin(totals)
      .select(col("node"),
        (col("h").cast("double") / col("th").cast("double")).as("hub"),
        (col("a").cast("double") / col("ta").cast("double")).as("auth"))
    e.unpersist(); nodes.unpersist()
    // final hub/auth stay persisted; caller/clearCache owns release
    out
  }

  /** Synchronous label propagation (Raghavan, Albert & Kumara 2007,
    * "Near linear time algorithm to detect community structures") with
    * a DETERMINISTIC tie-break: every node starts labeled with itself;
    * each round every node simultaneously adopts the most frequent
    * label among its neighbors, ties broken toward the SMALLEST label
    * (the published algorithm breaks ties randomly — a fixed order
    * makes the result a pure function of the edge list, replayable by
    * the unrolled oracle). Fixed `iters` rounds; a node with no
    * neighbors keeps its current label. The community signal LPA finds
    * (dense neighborhoods agreeing on a label) is finer than connected
    * components — [[graft.ops.Dedup]]'s union-find merges any path,
    * LPA splits a sparse bridge between two dense clusters.
    *
    * Input is treated as UNDIRECTED: both directions are unioned in.
    * Per round: one |E| join onto the label vector, one (node, label)
    * count agg, one per-node argmax (count desc, label asc) — all
    * integer, no RNG, no driver iteration.
    *
    * @return (node, label) — final community label per node
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int,
                       symmetricDistinct: Boolean = false): DataFrame = {
    require(iters >= 1, "labelPropagation needs at least one iteration")
    val e = edgeList(edges, srcCol, dstCol, symmetricDistinct,
      symmetric = true).persist(Lvl)
    val nodes = e.select(col("src").as("node")).distinct().persist(Lvl)
    // node count off the node-sized cache — gates the label-state
    // broadcasts below (optimization r17, bcastIfSmall note)
    val nN = nodes.count()
    // init labels: a cheap projection of the cached node set — round 1
    // reads it once, the per-round checkpoints own everything after
    val labels = iterate(nodes.select(col("node"), col("node").as("label")),
        iters) { (_, labels) =>
      // node-sized label state broadcast under the gate: the persisted
      // |E| relation streams from cache with no per-round exchange (r17)
      val counts = e.join(
          bcastIfSmall(labels.withColumnRenamed("node", "src"), nN), "src")
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      // per-node argmax by (cnt desc, label asc) as a HASH AGGREGATE
      // (max_by over the struct (cnt, -label); struct order is
      // lexicographic, so negating the label flips its tie direction) —
      // a row_number window here would SORT every partition per round,
      // the q_dashboard max_by-over-window reasoning applied to the loop
      val top = bcastIfSmall(counts.groupBy(col("node"))
        .agg(max_by(col("label"),
          struct(col("cnt"), (-col("label")).as("nl"))).as("label")), nN)
      nodes.join(top, Seq("node"), "left")
        // isolated node (no in-rows after symmetrization can only mean
        // no neighbors at all): keeps its own id as label
        .select(col("node"), coalesce(col("label"), col("node")).as("label"))
    }
    e.unpersist(); nodes.unpersist()
    labels
  }

  /** WEIGHTED PageRank over a directed edge list with a positive weight
    * column: each node distributes its rank proportionally to edge
    * weight — contribution = rank · w / Σ_out w — instead of uniformly
    * (the co-purchase-strength form: an edge backed by 40 shared
    * baskets should carry 40× the endorsement of a one-off). Same loop
    * shape, exactness discipline (fixed-point long partial sums over
    * floor(rank·w/sw·1e18) — the per-edge scalar is identical IEEE
    * arithmetic in any engine), per-round checkpoint/release, and
    * keep-every-node-row left join as [[pageRank]] — the same
    * [[powerIteration]]; non-dangling mode only (every node must appear
    * as a source — the undirected both-directions invariant).
    *
    * @param edges (srcCol, dstCol, weightCol) — parallel edges should be
    *              pre-aggregated (duplicates are NOT collapsed here;
    *              they'd each carry their weight, which is usually what
    *              a weighted builder means anyway)
    * @return (node, rank)
    */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, iters: Int,
                       damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "pageRankWeighted needs at least one iteration")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(weightCol).cast("long").as("w")).persist(Lvl)
    val sw = e.groupBy("src").agg(sum(col("w")).as("sw")).persist(Lvl)
    val nodes = sw.select(col("src").as("node")).persist(Lvl)
    val n = nodes.count()
    val ranks = powerIteration(e, sw, col("w"),
      nodes.select(col("node"), lit((1.0 - damping) / n).as("base")), n,
      nodes.withColumn("rank", lit(1.0 / n)), iters, damping, None)
    sw.unpersist(); nodes.unpersist()
    ranks
  }

  /** k-core decomposition (Seidman 1983, "Network structure and minimum
    * degree") of an UNDIRECTED graph: the maximal subgraph where every
    * node keeps degree ≥ k, found by synchronous peeling — drop all
    * nodes below k, recompute degrees, repeat to the FIXPOINT. The
    * fixpoint is unique (independent of peel order), so the result is a
    * pure function of the edge set; peeling a converged core is a no-op,
    * which is what lets an oracle replay with any unrolled round count
    * ≥ the actual convergence depth.
    *
    * Scale: each round is one degree aggregation + two semi joins over
    * the CURRENT edge set (monotonically shrinking) — |E| linear per
    * round, node-count-sized driver state, never a per-node loop. Round
    * count is bounded by the cascade depth; `maxRounds` bounds it
    * loudly (a graph needing more rounds fails with instructions, never
    * returns a half-peeled subgraph).
    *
    * Peel-depth envelope (what `maxRounds` is actually bounding): round
    * count is the graph's degeneracy-CASCADE depth, not a function of
    * |E| — disjoint copies of a graph peel in the same rounds as one
    * copy, a perfect binary tree peels in its DEPTH (log |V|) rounds,
    * and the worst case is a path (diameter/2 rounds for k = 2). Total
    * work is Σ over rounds of the CURRENT edge count, so a deep peel
    * whose rounds shrink the graph geometrically (the tree) still costs
    * ≈ 2|E| overall — depth alone is not a cost cliff; only a deep peel
    * that removes o(|E|) edges per round (the path) degrades toward
    * rounds × |E|, and `maxRounds` is the loud guard for exactly that
    * shape (measured in BENCH_NOTES' graph3 deep-peel ladder).
    *
    * @param onRound observer called after every peel round with
    *                (round, edges remaining) — the ladder's per-round
    *                instrumentation; default no-op
    * @return (node, core_deg) — nodes of the k-core with their in-core
    *         degree (≥ k), empty when the core is empty
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Long, maxRounds: Int = 20,
            onRound: (Int, Long) => Unit = (_, _) => (),
            symmetricDistinct: Boolean = false): DataFrame = {
    require(k >= 1, "kCore needs k >= 1")
    require(maxRounds >= 1, "kCore needs maxRounds >= 1")
    // localCheckpoint per round, NOT persist (the duplicateClusters
    // discipline): each round reads `cur` three times (degree agg + both
    // semi joins), so an un-truncated lineage TRIPLES the logical plan
    // every round and the plan string itself OOMs the driver long before
    // the data is large — checkpointing pins the round's edges as cached
    // blocks behind a leaf plan. Round 0 checkpoints too, also when
    // symmetricDistinct skips the symmetrize-union + dedup exchange.
    // Hand-written, not [[iterate]]: the round count is a fixpoint, and
    // the converged round releases its own (unchanged) successor.
    var cur = edgeList(edges, srcCol, dstCol, symmetricDistinct,
      symmetric = true).localCheckpoint(true)
    // convergence on EDGE count, not a distinct node count: removing any
    // node removes >= 1 of its edges (every cur node has degree >= 1 by
    // construction), so edge-count equality <=> node-set equality — and
    // counting a checkpointed frame is a cached-block scan, no
    // distinct exchange per round
    var nEdges = cur.count()
    var converged = false
    var round = 0
    while (!converged && round < maxRounds && nEdges > 0) {
      round += 1
      // keep is node-sized (≤ distinct src ≤ nEdges, the known runtime
      // count): broadcast under the gate so both semi joins stream the
      // round's edge blocks with NO exchange — the un-hinted plan
      // exchanged cur by src AND by dst every round before AQE's
      // (post-exchange) BHJ conversion (optimization r17). nEdges is a
      // conservative upper bound on |keep|, so the gate stays scale-safe.
      val keep0 = cur.groupBy("src").agg(count(lit(1)).as("_d"))
        .filter(col("_d") >= k).select(col("src").as("node"))
      val keep = bcastIfSmall(keep0, nEdges)
      val next = cur
        .join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst")
        .localCheckpoint(true)
      val n = next.count()
      onRound(round, n)
      // releaseCheckpoint, NOT Dataset.unpersist: unpersist talks to
      // the cache manager and leaves localCheckpoint RDD blocks behind
      if (n == nEdges) { releaseCheckpoint(next); converged = true }
      else { releaseCheckpoint(cur); cur = next; nEdges = n }
    }
    require(converged || nEdges == 0,
      s"kCore did not converge within $maxRounds rounds ($nEdges edges " +
        "still changing) — raise maxRounds; the fixpoint is unique, more " +
        "rounds only peel further")
    val out = cur.groupBy(col("src").as("node"))
      .agg(count(lit(1)).cast("long").as("core_deg"))
    // cur stays persisted until the caller's action; clearCache convention
    out
  }

  /** The multi-source BFS shared by [[harmonicCentrality]] and the
    * forward pass of [[betweennessSeeded]]. Seeds are first restricted
    * to graph nodes (sources of `e`), so a superset seed source gives
    * the same result (the personalizedPageRank contract). Level t holds
    * the (seed, node) pairs FIRST reached at hop t; with `pathCounts`
    * each level also carries sig = the number of shortest seed→node
    * paths (exact longs, order-free integer sums over the previous
    * level).
    *
    * Each hop joins the previous level against the persisted edge
    * relation once, aggregates, anti-joins the cumulative reached set,
    * and checkpoints the new level. Every level is materialized eagerly
    * anyway, so its row count is one cached-block scan — those measured
    * counts gate the state broadcasts (optimization r17, bcastIfSmall):
    * under the gate the hop join streams the persisted edge relation
    * with NO per-hop exchange of e, and the anti-join builds from the
    * reached set instead of exchanging the hop's aggregate output.
    *
    * The reached set only feeds the NEXT hop's anti-join: it grows by
    * each level except on the last hop, where the (seed, node)-sized
    * union + checkpoint would be dead work (optimization r16), and its
    * previous blocks are released once the successor is materialized.
    * The levels themselves are never released here: the callers read
    * them lazily (level 0 is the reached set's round-0 frame when
    * `pathCounts` is off, and is released with it).
    *
    * @return levels 0..maxHops and their row counts
    */
  private def multiSourceBfs(e: DataFrame, seeds: DataFrame, seedCol: String,
                             maxHops: Int, pathCounts: Boolean)
      : (IndexedSeq[DataFrame], IndexedSeq[Long]) = {
    val s0 = seeds.select(col(seedCol).as("seed")).distinct()
      .join(e.select(col("src").as("seed")).distinct(), Seq("seed"), "left_semi")
    var reached = s0.select(col("seed"), col("seed").as("node"))
      .localCheckpoint(true)
    val levels = scala.collection.mutable.ArrayBuffer(
      if (!pathCounts) reached
      else s0.select(col("seed"), col("seed").as("node"), lit(1L).as("sig"))
        .localCheckpoint(true))
    val sizes = scala.collection.mutable.ArrayBuffer(levels(0).count())
    var reachedRows = sizes(0)
    for (t <- 1 to maxHops) {
      val hop = bcastIfSmall(levels(t - 1).withColumnRenamed("node", "src"),
          sizes(t - 1))
        .join(e, "src")
      val next = (if (pathCounts)
          hop.groupBy(col("seed"), col("dst").as("node"))
            .agg(sum(col("sig")).as("sig"))
        else hop.select(col("seed"), col("dst").as("node")).distinct())
        .join(bcastIfSmall(reached, reachedRows), Seq("seed", "node"),
          "left_anti")
        .localCheckpoint(true)
      levels += next
      sizes += next.count()
      if (t < maxHops) {
        val grown = reached.unionAll(next.select("seed", "node"))
          .localCheckpoint(true)
        releaseCheckpoint(reached)
        reached = grown
        reachedRows += sizes(t)
      } else releaseCheckpoint(reached)
    }
    (levels.toIndexedSeq, sizes.toIndexedSeq)
  }

  /** Seed-sampled BETWEENNESS centrality (Brandes 2001, "A faster
    * algorithm for betweenness centrality"; sampled-source form per
    * Brandes & Pich 2007) truncated at `maxHops`: for every non-seed
    * node v, Σ over seeds s of the dependency δ_s(v) = Σ_{w}
    * σ_sv/σ_sw · (1 + δ_s(w)) accumulated over the BFS DAG's
    * successor levels — the path-counting centrality PageRank and
    * harmonic cannot express (how much SHORTEST-PATH traffic routes
    * THROUGH v). |seeds| is the sampling lever (exact per seed,
    * sampled over sources — the harmonicCentrality contract);
    * distances follow edge direction, pass a symmetrized list for the
    * undirected reading.
    *
    * EXACTNESS: forward path counts σ are exact longs (order-free
    * integer sums over predecessor levels; exact while Π level
    * out-degrees < 2⁶³ — document/raise maxHops with care on dense
    * graphs). Backward dependencies are NOT rational-friendly, so each
    * per-edge contribution quantizes ONCE to fixed-point
    * floor(σv/σw · (1 + δw) · 2³⁰) and sums as longs (the pageRank
    * inbound-mass discipline): δw reconstitutes as num/2³⁰ with one
    * double division, every step the identical IEEE expression in the
    * oracle, and the final per-node betweenness is ONE division of an
    * exact long total — order-free, bit-replayable.
    *
    * Scale: forward = harmonicCentrality's [[multiSourceBfs]] carrying
    * (seed, node, σ) state (≤ |seeds|·|V| rows, each hop one edge join
    * + one anti-join, per-level frames checkpointed); backward = one
    * (v, w) edge join + one (seed, w) equi-join + one hash aggregation
    * per level, L ≤ 8 levels. No all-pairs stage anywhere.
    *
    * @return (node, betweenness) for every node reached at hop ≥ 1 by
    *         any seed (seeds themselves excluded, Brandes' endpoint
    *         convention); betweenness = Σ num / 2³⁰ */
  def betweennessSeeded(edges: DataFrame, srcCol: String, dstCol: String,
                        seeds: DataFrame, seedCol: String,
                        maxHops: Int,
                        edgesDistinct: Boolean = false): DataFrame = {
    require(maxHops >= 1 && maxHops <= 8,
      s"maxHops in [1, 8] (levels are materialized), got $maxHops")
    val Q = 1073741824.0 // 2^30, the fixed-point scale
    val e = edgeList(edges, srcCol, dstCol, edgesDistinct).persist(Lvl)
    // forward: levels(t) = (seed, node, sig) of nodes FIRST reached at
    // hop t; sig = number of shortest s→node paths (exact longs)
    val (levels, sizes) =
      multiSourceBfs(e, seeds, seedCol, maxHops, pathCounts = true)
    // deepest non-empty level index (driver-side level sizes — L ≤ 8
    // model-sized counts gathered during the loop, not row data)
    val lMax = sizes.lastIndexWhere(_ > 0L)
    // lMax = 0: seeds reach nothing (or no valid seed at all, -1) —
    // no non-seed node exists, the result is the empty frame
    if (lMax < 1) {
      e.unpersist()
      return levels(0).limit(0).select(col("node"),
        lit(0.0).as("betweenness"))
    }
    // backward: delta(t) = (seed, node, sig, num) with δ = num / 2^30.
    // Both join sides of the per-level contribution are measured state
    // frames (levels(t) and delta(t+1) row counts are known): broadcast
    // under the gate, the whole contribution pipeline — edge join,
    // successor join, quantized partial aggregation — runs MAP-SIDE over
    // the persisted edge relation in one codegen stage; the un-hinted
    // plan exchanged the Σdeg(level)-row join stream by (seed, w) every
    // level, the single heaviest shuffle of the query (optimization r17:
    // ~3 M rows in the 4.4 s level-1 stage at sf0.1, BENCH_NOTES "Graph
    // probe mains retired").
    // Hand-written, not [[iterate]]: every level's delta is read lazily
    // by the final union, so no round's checkpoint can be released.
    var delta = levels(lMax).withColumn("num", lit(0L))
    var deltaRows = sizes(lMax)
    val perLevel = scala.collection.mutable.ArrayBuffer(
      delta.select(col("node"), col("num")))
    // stop at level 1: level 0 is the seeds, excluded by the endpoint
    // convention, and nothing consumes their delta
    (lMax - 1 to 1 by -1).foreach { t =>
      val succ = bcastIfSmall(delta.select(col("seed"), col("node").as("w"),
        col("sig").as("sig_w"), col("num").as("num_w")), deltaRows)
      val contrib = bcastIfSmall(levels(t), sizes(t))
        .join(e.select(col("src").as("node"), col("dst").as("w")),
          Seq("node"))
        .join(succ, Seq("seed", "w"))
        .select(col("seed"), col("node"),
          // ONE quantization per (v, w) contribution — the identical
          // IEEE expression in the oracle: σv/σw · (1 + num_w/2³⁰) · 2³⁰
          floor(col("sig").cast("double") / col("sig_w").cast("double")
            * (lit(1.0) + col("num_w").cast("double") / lit(Q)) * lit(Q))
            .cast("long").as("c"))
        .groupBy("seed", "node").agg(sum(col("c")).as("num"))
      delta = levels(t)
        .join(bcastIfSmall(contrib, sizes(t)), Seq("seed", "node"), "left")
        .select(col("seed"), col("node"), col("sig"),
          coalesce(col("num"), lit(0L)).as("num"))
        .localCheckpoint(true)
      deltaRows = sizes(t)
      perLevel += delta.select(col("node"), col("num"))
    }
    e.unpersist()
    // each (seed, node) lives in exactly ONE level (BFS first-visit),
    // so the cross-seed total is an exact long sum; ONE division at
    // the end
    perLevel.reduce(_ unionAll _)
      .groupBy("node").agg(sum(col("num")).as("num"))
      .select(col("node"),
        (col("num").cast("double") / lit(Q)).as("betweenness"))
  }

  /** Seed-truncated harmonic centrality (Boldi & Vigna 2014, "Axioms
    * for centrality" — harmonic is the closeness variant that handles
    * disconnection): for every node, Σ_{s ∈ seeds} 1/d(s, node) over
    * the seeds that reach it within `maxHops` — computed by one
    * MULTI-SOURCE BFS carrying (seed, node) state, the exact truncated
    * form of the sketch-based estimators (HyperBall) used when the seed
    * set is the whole graph. Distances follow edge direction; pass a
    * symmetrized edge list for the undirected reading.
    *
    * Scale: hop t joins the (seed, node) frontier — ≤ |seeds|·|V| rows,
    * the explicit state bound — against the edge list once, then
    * anti-joins the reached set; |seeds| is the caller's lever (this is
    * the landmark/pivot form of centrality estimation — exact per
    * seed, sampled over sources). Each hop's reached set is
    * `localCheckpoint`ed (the kCore lineage discipline).
    *
    * @return (node, hops × count columns n1..n`maxHops`, harmonic) for
    *         nodes reached by ≥ 1 seed in 1..maxHops hops; the
    *         harmonic sum folds n1/1 + n2/2 + … in fixed hop order
    */
  def harmonicCentrality(edges: DataFrame, srcCol: String, dstCol: String,
                         seeds: DataFrame, seedCol: String,
                         maxHops: Int,
                         edgesDistinct: Boolean = false): DataFrame = {
    require(maxHops >= 1 && maxHops <= 8,
      s"maxHops in [1, 8] (hop columns are materialized), got $maxHops")
    val e = edgeList(edges, srcCol, dstCol, edgesDistinct).persist(Lvl)
    val (levels, _) =
      multiSourceBfs(e, seeds, seedCol, maxHops, pathCounts = false)
    // the levels stay checkpointed: the counts read them lazily at the
    // caller's action
    val hopCounts = (1 to maxHops).map(t => levels(t).groupBy("node")
      .agg(count(lit(1)).cast("long").as(s"n$t")))
    e.unpersist()
    val joined = hopCounts.reduce { (a, b) =>
      a.join(b, Seq("node"), "full_outer")
    }
    val filled = (1 to maxHops).foldLeft(joined) { (df, t) =>
      df.withColumn(s"n$t", coalesce(col(s"n$t"), lit(0L)))
    }
    // fixed-order fold: ((n1/1 + n2/2) + n3/3) + … — each term one IEEE
    // division of exact longs, replayable in any engine
    val harmonic = (1 to maxHops).map(t =>
        col(s"n$t").cast("double") / lit(t.toDouble))
      .reduce(_ + _)
    filled.select((col("node") +: (1 to maxHops).map(t => col(s"n$t"))
      :+ harmonic.as("harmonic")): _*)
  }

  /** Common-neighbor link prediction (Liben-Nowell & Kleinberg 2003,
    * "The link prediction problem for social networks") over an
    * UNDIRECTED graph: for every NON-adjacent pair (a, b), the number of
    * shared neighbors — the classic "people/items you may also like"
    * score (its integer core; Adamic-Adar just log-weights the same
    * wedge set, traded away here for cross-engine exactness).
    *
    * Scale: candidate pairs are generated per wedge CENTER w (one row
    * per unordered neighbor pair of w), so raw volume is Σ_w deg(w)² —
    * quadratic in the hubbiest node. `maxCenterDeg` caps it: nodes with
    * degree > cap certify nothing about affinity (a hub is connected to
    * everyone — sharing it is weak evidence, the same reasoning as
    * [[graft.ops.TextStats]]' BM25 df cap) and are EXCLUDED as wedge
    * centers, bounding volume to ≤ maxCenterDeg·2|E| — linear in |E| for
    * a fixed cap. They still appear as endpoints. One map-side explode-
    * free self-join on the center + one count agg + one anti-join
    * against the edge set; all-integer output.
    *
    * Cap selection at scale: the wedge relation is ≤ maxCenterDeg·2|E|
    * rows of three longs (~64 B serialized each), shuffled once for the
    * count aggregation. It stays in the in-memory shuffle envelope while
    * `maxCenterDeg ≤ M / (128·|E|)` with M = aggregate executor memory
    * available to the exchange (per-executor shuffle fraction × executor
    * count); past that the exchange SPILLS — a linear-constant
    * degradation (sort-merge runs from disk), never an OOM, because the
    * aggregation is map-side combinable and no single key's state grows
    * with the cap. Measured: the sf0.1 K = 32 rung (~0.7 G wedge rows)
    * runs ×3 the linear trend purely on spill I/O and completes; the
    * graph3 cap ladder pins time ∝ cap at fixed |E| (BENCH_NOTES).
    *
    * @return (node_a, node_b, common) — non-adjacent pairs (a < b) with
    *         ≥ minCommon shared (non-hub) neighbors
    */
  def commonNeighborLinks(edges: DataFrame, srcCol: String, dstCol: String,
                          maxCenterDeg: Long, minCommon: Long,
                          symmetricDistinct: Boolean = false): DataFrame =
    wedgeLinks(edges, srcCol, dstCol, maxCenterDeg, minCommon,
        symmetricDistinct) { (wedges, _) =>
      wedges.groupBy("node_a", "node_b")
        .agg(count(lit(1)).cast("long").as("common"))
    }

  /** The wedge pipeline of the two link predictors
    * ([[commonNeighborLinks]], [[resourceAllocationLinks]]): canonical
    * pairs (persisted, caller-owned release — the clearCache
    * convention) → both ends re-expanded MAP-SIDE → centers of degree ≤
    * `maxCenterDeg` → one center-keyed self-join emitting each wedge
    * (node_a < node_b) once. `score(wedges, centers)` aggregates the
    * wedges per pair (centers carry (w, deg)) into a frame with a
    * `common` count; pairs below `minCommon`, and pairs already
    * adjacent (anti-join against the canonical set), are dropped.
    *
    * Both sides of the wedge join are the SAME semi-joined `adjK` under
    * identical projections, so one exchange can serve both (exchange
    * reuse). A per-pair score rides AFTER the self-join, never through
    * it: carrying the weight through the self-join measured ~2× (the
    * inner-join adjK shapes defeat semi-join short-circuiting), and a
    * broadcast hint on `centers` before adjK propagates smallness and
    * flips the wedge join into broadcasting the full adjacency
    * (measured 2–3×). An array-adjacency emission — per kept center
    * one sorted neighbor array, pairs exploded map-side as
    * (ns[i], ns[j≻i]) via posexplode + slice — was prototyped and
    * REJECTED (r17): identical wedge multiset and exchange count, but
    * the per-position slice allocations cost more than the self-join's
    * hash probes (q_link_predict 7.1 → 9.2 s, q_link_predict_ra
    * 7.9 → 9.8 s solo A/B at sf0.1). */
  private def wedgeLinks(edges: DataFrame, srcCol: String, dstCol: String,
                         maxCenterDeg: Long, minCommon: Long,
                         symmetricDistinct: Boolean)
                        (score: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    require(maxCenterDeg >= 1, "maxCenterDeg must be >= 1")
    val e = canonicalPairs(edges, srcCol, dstCol, symmetricDistinct).persist(Lvl)
    val adj = pairEnds(e)
    val centers = adj.groupBy("w").agg(count(lit(1)).as("deg"))
      .filter(col("deg") <= maxCenterDeg)
    val adjK = adj.join(centers.select("w"), Seq("w"), "left_semi")
    val wedges = adjK.select(col("w"), col("n").as("node_a"))
      .join(adjK.select(col("w"), col("n").as("node_b")), Seq("w"))
      .filter(col("node_a") < col("node_b"))
    val scored = score(wedges, centers).filter(col("common") >= minCommon)
    // predicted = NOT already an edge (e is canonical a<b, like the pair)
    scored.join(e,
      scored("node_a") === e("a") && scored("node_b") === e("b"), "left_anti")
  }

  /** Co-purchase edge list from (basket, item) rows: undirected item pairs
    * that share a basket, emitted in BOTH directions, with the same
    * min-item-support prefilter as Baskets.frequentPairs so the per-basket
    * pair blow-up is bounded by frequent items only (the df-cap pattern —
    * rare long-tail items never enter the quadratic step).
    */
  def copurchaseEdges(baskets: DataFrame, basketCol: String, itemCol: String,
                      minItemSupport: Long): DataFrame =
    copurchasePairs(baskets, basketCol, itemCol, minItemSupport)(_.distinct())

  /** The co-purchase build shared by [[copurchaseEdges]] and
    * [[copurchaseWeightedEdges]]: frequent-item basket sets → canonical
    * (src < dst) item pairs → `collapse` (the one exchange: a distinct,
    * or a shared-basket count) → the persisted canonical half, mirrored
    * MAP-SIDE with its extra columns carried unchanged. */
  private def copurchasePairs(baskets: DataFrame, basketCol: String,
                              itemCol: String, minItemSupport: Long)
                             (collapse: DataFrame => DataFrame): DataFrame = {
    // Collected-set shape, NOT a basket self-join: one shuffle collapses
    // the raw rows to per-basket item sets (collect_set dedups, so no
    // pre-distinct pass), the support filter runs over the exploded sets
    // (|distinct (basket,item)| rows, far smaller than the input), and
    // the quadratic pair step is a MAP-SIDE double explode — a self-join
    // would re-evaluate (and re-shuffle) its whole input lineage once
    // per side. Per-basket blow-up stays bounded by frequent items only.
    val sets0 = baskets
      .select(col(basketCol).as("basket"), col(itemCol).as("item"))
      .groupBy("basket").agg(collect_set(col("item")).as("items"))
      // read by two branches below (support counts + filtered sets);
      // small (one row per basket). Caller/Verify clearCache owns
      // eviction — the tokenTable convention.
      .persist(Lvl)
    val b = sets0.select(col("basket"), explode(col("items")).as("item"))
    val freq = b.groupBy("item").agg(count(lit(1)).as("supp"))
      .filter(col("supp") >= minItemSupport)
      .select("item")
    val fsets = b.join(freq, "item")
      .groupBy("basket").agg(collect_set(col("item")).as("items"))
    // Canonical (src < dst) pairs only through the dedup exchange — the
    // build's heaviest shuffle halves (each unordered basket pair used
    // to enter it twice); the mirrored direction is re-added MAP-SIDE
    // after the distinct, so the emitted edge SET is byte-identical
    // (guide §2.3: shuffle fewer bytes). The union of the two disjoint
    // halves is itself distinct, preserving the documented contract.
    // The half is PERSISTED before mirroring: exchange reuse does not
    // fire across the union's two branches (measured: the un-persisted
    // form physically duplicated the whole upstream build per
    // direction), and canonical pairs are |E|/2 rows of two keys —
    // cache lifetime is caller-owned (clearCache), the sets0 convention.
    // The weighted build's count is symmetric by construction (the
    // shared-basket count does not depend on direction), so the mirror
    // carries the same w.
    val half = collapse(fsets
        .select(explode(col("items")).as("src"), col("items"))
        .select(col("src"), explode(col("items")).as("dst"))
        .filter(col("src") < col("dst")))
      .persist(Lvl)
    half.unionAll(half.select((col("dst").as("src") +: col("src").as("dst") +:
      half.columns.drop(2).toSeq.map(col)): _*))
  }

  /** [[copurchaseEdges]] derived from a [[Baskets.pairStoreAppend]]
    * store instead of a fresh basket scan — the 100 TB pattern for
    * graph analytics: the quadratic-per-basket pair extraction runs
    * ONCE per arriving batch into the additive store, and every
    * downstream consumer (PageRank, link prediction, assortativity,
    * the lift report) reads the merged counts instead of re-scanning
    * history. Requires the store's batches to partition BASKETS (the
    * store's documented contract — a basket split across batches would
    * under-count its pairs); under it, merged item supports and pair
    * counts equal the one-shot's, so the edge set is IDENTICAL to
    * [[copurchaseEdges]] over the union (q_pagerank_stored puts that
    * equality under the hash gate via the one-shot oracle). */
  def copurchaseEdgesFromPairStore(spark: org.apache.spark.sql.SparkSession,
                                   path: String,
                                   minItemSupport: Long): DataFrame = {
    Stores.requireStore(spark, path, "append basket batches first")
    val t = spark.read.parquet(path)
    val supp = t.filter(col("item_a").isNotNull && col("item_b").isNull)
      .groupBy(col("item_a").as("item"))
      .agg(sum(col("n")).as("supp"))
      .filter(col("supp") >= minItemSupport)
      .select("item")
    val pairs = t.filter(col("item_a").isNotNull && col("item_b").isNotNull)
      .groupBy("item_a", "item_b").agg(sum(col("n")).as("pn"))
      .join(supp.withColumnRenamed("item", "item_a"), Seq("item_a"))
      .join(supp.withColumnRenamed("item", "item_b"), Seq("item_b"))
    pairs.select(col("item_a").as("src"), col("item_b").as("dst"))
      .unionAll(pairs.select(col("item_b").as("src"), col("item_a").as("dst")))
  }

  /** [[copurchaseEdges]] with EDGE WEIGHTS: w = number of shared baskets
    * per directed item pair (symmetric by construction). Same
    * collected-set shape and support prefilter; the final step is a
    * count aggregation instead of a distinct — identical exchange, one
    * extra long per row. Feed to [[pageRankWeighted]]. */
  def copurchaseWeightedEdges(baskets: DataFrame, basketCol: String,
                              itemCol: String,
                              minItemSupport: Long): DataFrame =
    copurchasePairs(baskets, basketCol, itemCol, minItemSupport)(
      _.groupBy("src", "dst").agg(count(lit(1)).cast("long").as("w")))

  /** Resource-Allocation link prediction (Zhou, Lü & Zhang 2009,
    * "Predicting missing links via local information"): like
    * [[commonNeighborLinks]] but each shared neighbor w contributes
    * 1/deg(w) instead of 1 — a hub shared by everyone certifies almost
    * nothing, a low-degree shared neighbor is strong evidence. RA
    * outperformed Adamic-Adar (1/ln deg) in the paper's evaluations and
    * has the cross-engine-exactness property AA lacks: the weight is
    * computed in FIXED-POINT (2^20/deg by integer division), so scores
    * are plain long sums — order-free, bit-identical in any engine — and
    * the score RANKING equals the rational Σ2^20/deg ranking up to the
    * 2^-20 truncation granularity (documented, deterministic).
    *
    * Same wedge machinery and `maxCenterDeg` volume bound as
    * [[commonNeighborLinks]] (Σ wedges ≤ cap·2|E|); the degree used for
    * the weight is the FULL degree (hubs excluded as centers still have
    * their true degree — the cap governs candidate generation, not the
    * score definition).
    *
    * @return (node_a, node_b, score_fp, common) — non-adjacent pairs
    *         (a < b) with ≥ minCommon shared (non-hub) neighbors;
    *         score_fp = Σ_w (2^20 div deg(w)), descending = strongest
    */
  def resourceAllocationLinks(edges: DataFrame, srcCol: String,
                              dstCol: String, maxCenterDeg: Long,
                              minCommon: Long,
                              symmetricDistinct: Boolean = false): DataFrame =
    wedgeLinks(edges, srcCol, dstCol, maxCenterDeg, minCommon,
        symmetricDistinct) { (wedges, centers) =>
      // the weight map-joins onto the wedge stream from the node-sized
      // table; the broadcast hint belongs here, where its build side
      // really is node-sized (the wedgeLinks note)
      val wt = centers
        .select(col("w"), expr("1048576 div deg").cast("long").as("wt"))
      wedges.join(broadcast(wt), Seq("w"))
        .groupBy("node_a", "node_b")
        .agg(sum(col("wt")).cast("long").as("score_fp"),
          count(lit(1)).cast("long").as("common"))
    }

  /** Degree assortativity coefficient (Newman 2002, "Assortative mixing
    * in networks"): the Pearson correlation of the degrees at the two
    * ends of an edge — positive = hubs link to hubs (social networks),
    * negative = hubs link to leaves (technological/co-occurrence
    * graphs). One number that summarizes whether a graph's dense core
    * is hub-hub or hub-periphery — the first diagnostic to read before
    * choosing between the engine's hub-cap levers (BM25 df cap, wedge
    * center cap, hot-block cap).
    *
    * Exactness: every sum is an integer (degree products of long
    * degrees) accumulated in DECIMAL(38,0) — order-free exact at any
    * scale (Σ x·y at 10^12 edges with 10^6-degree hubs needs ~10^24,
    * past long range) — and `r` is a fixed arithmetic expression over
    * those exact sums (correctly-rounded IEEE steps, engine-identical).
    * Both orientations of every undirected edge are summed, so
    * Σx = Σy by construction (the standard undirected formulation).
    *
    * @return one row: (m_ends, sum_x, sum_xy, sum_x2, r)
    */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
                          dstCol: String,
                          symmetricDistinct: Boolean = false): DataFrame = {
    // symmetricDistinct: input already both-directions + distinct + no
    // self loops — the input IS the (w, n) end list; the canonicalize +
    // re-expand round trip (one 2|E| dedup exchange) is skipped (r16)
    val adj = (if (symmetricDistinct)
        edges.select(col(srcCol).as("w"), col(dstCol).as("n"))
      else pairEnds(canonicalPairs(edges, srcCol, dstCol,
        symmetricDistinct = false)))
      .persist(Lvl)
    val degrees = adj.groupBy("w").agg(count(lit(1)).cast("long").as("deg"))
    // degrees is node-count-sized → broadcast twice; the 2|E| adj side
    // stays map-only all the way into the single final aggregation
    val ends = adj
      .join(broadcast(degrees.withColumnRenamed("w", "jw")
        .withColumnRenamed("deg", "deg_x")), col("w") === col("jw"))
      .drop("jw")
      .join(broadcast(degrees.withColumnRenamed("w", "jn")
        .withColumnRenamed("deg", "deg_y")), col("n") === col("jn"))
      .select(col("deg_x").cast("decimal(38,0)").as("x"),
        col("deg_y").cast("decimal(38,0)").as("y"))
    val sums = ends.agg(
      count(lit(1)).cast("long").as("m_ends"),
      sum(col("x")).as("sx"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sx2"))
    // r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²) — undirected symmetric form
    // (Σx = Σy, Σx² = Σy²); exact integer sums, then IEEE steps only
    sums.select(col("m_ends"),
      col("sx").cast("long").as("sum_x"),
      col("sxy").cast("long").as("sum_xy"),
      col("sx2").cast("long").as("sum_x2"),
      ((col("m_ends").cast("double") * col("sxy").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")) /
        (col("m_ends").cast("double") * col("sx2").cast("double") -
          col("sx").cast("double") * col("sx").cast("double"))).as("r"))
  }

  /** DETERMINISTIC random walks — the node2vec/DeepWalk corpus
    * generator (Perozzi et al. 2014; Grover & Leskovec 2016) with the
    * engine's hash-not-RNG discipline: one walk per start node, hop t
    * from node c picks neighbor index md5(start, t, c, salt) % deg(c)
    * over the dst-sorted adjacency — a pure function of (graph, salt),
    * so walks are sticky across reruns, shard-order-independent, and
    * exactly replayable by an unrolled oracle (the [[pageRank]]
    * replay convention applied to sampling). A dead-end node (no
    * out-edges, possible on directed inputs) truncates the walk: later
    * steps stay NULL.
    *
    * Scale: the array adjacency ([[uniformAdjacency]], one row per node)
    * is built once and persisted; each hop is ONE equi-join of the walk
    * frontier against it with a codegen'd element_at pick — walkLen
    * joins total, never a per-node driver loop. State is one row per
    * walk. `maxDeg` caps hop choice to the first `maxDeg` dst-sorted
    * neighbors (the [[commonNeighborLinks]] `maxCenterDeg` precedent):
    * the pick hashes over min(deg, maxDeg), so walks stay deterministic
    * and any graph whose max degree is below the cap is bit-identical
    * to the uncapped run.
    *
    * @param walkLen number of hops (1..8; output columns step_0 =
    *                start .. step_<walkLen>)
    * @param maxDeg  optional per-node out-degree cap (>= 1); hop
    *                choice draws from the first `maxDeg` dst-sorted
    *                neighbors only
    * @return per start node: node, step_0..step_<walkLen> */
  def deterministicWalks(edges: DataFrame, srcCol: String, dstCol: String,
                         walkLen: Int, salt: String,
                         maxDeg: Option[Long] = None): DataFrame = {
    require(walkLen >= 1 && walkLen <= 8, s"walkLen in [1, 8], got $walkLen")
    require(maxDeg.forall(m => m >= 1L && m <= Int.MaxValue.toLong),
      s"maxDeg in [1, ${Int.MaxValue}], got $maxDeg")
    val adj = uniformAdjacency(edges, srcCol, dstCol, maxDeg)
    walk(adj, walkLen, secondOrder = false)(uniformHop(_, adj, _, salt))
  }

  /** [[deterministicWalks]] with WEIGHTED hop choice — the node2vec
    * edge-weight bias under the same hash-not-RNG discipline: hop t
    * from node c draws r = md5(start, t, c, salt) % totalW(c) and
    * steps to the dst-sorted neighbor whose cumulative-weight range
    * [cum − w, cum) contains r, so a neighbor is chosen with
    * probability w / totalW and the walk table stays a pure function
    * of (graph, weights, salt) — exactly replayable by the unrolled
    * oracle. With all weights = 1 the ranges are unit-width
    * (cum − w = idx, totalW = deg), so the walks are BIT-IDENTICAL to
    * [[deterministicWalks]] on the same salt — the degenerate case
    * GraphPropertySpec pins. Scaling all weights by a constant changes
    * the draw (r is taken modulo the SUM, not the distribution), the
    * documented price of keeping the arithmetic in exact longs.
    *
    * Scale: the cumulative-weight array adjacency
    * ([[weightedAdjacency]]) is built once; each hop is ONE equi-join
    * against that node-sized relation with a positional pick
    * ([[weightedHop]]). Parallel (src, dst) duplicates merge
    * additively before indexing; weights must be >= 1 (loud per-row
    * guard, the axisGuard convention).
    *
    * @param wCol    long-valued positive edge weight column
    * @return per start node: node, step_0..step_<walkLen> */
  def deterministicWalksWeighted(edges: DataFrame, srcCol: String,
                                 dstCol: String, wCol: String,
                                 walkLen: Int, salt: String): DataFrame = {
    require(walkLen >= 1 && walkLen <= 8, s"walkLen in [1, 8], got $walkLen")
    // the dst array is read out of the (dst, cum) structs — no second
    // collect_set (the three-array aggregate is node2vecWeighted's only)
    val adj = weightedAdjacency(edges, srcCol, dstCol, wCol,
      "deterministicWalksWeighted", arrays = Nil,
      nbrs = Seq(transform(col("dc"), s => s.getField("dst")).as("nbrs")))
    walk(adj, walkLen, secondOrder = false)(
      weightedHop(_, adj, _, salt, "h", "nbrs"))
  }

  /** SECOND-ORDER deterministic walks — node2vec's p/q search bias
    * (Grover & Leskovec 2016 §3.2) under the hash-not-RNG discipline.
    * Hop t ≥ 2 from node c with previous node b weights each neighbor
    * x of c by the RATIONAL bias α_pq, kept in exact longs by
    * cross-multiplying the user's p = pNum/pDen and q = qNum/qDen:
    *
    *   x = b (return)          → pDen·qNum   (∝ 1/p)
    *   x ∈ N(b) (triangle)     → pNum·qNum   (∝ 1)
    *   otherwise (explore)     → pNum·qDen   (∝ 1/q)
    *
    * then draws r = md5(start, t, c, salt) % totalW and steps to the
    * dst-sorted neighbor whose cumulative range contains r — the
    * [[deterministicWalksWeighted]] range pick with per-(b, c) weights
    * instead of static edge weights. Hop 1 has no previous node and is
    * the uniform [[deterministicWalks]] pick (the paper's convention).
    * With p = q = 1 all three biases collapse to 1, every range is
    * unit-width and the hash strings are identical, so the walk table
    * is BIT-IDENTICAL to [[deterministicWalks]] on the same salt — the
    * degenerate case the spec pins.
    *
    * Scale: hop t ≥ 2 ([[secondOrderHop]]) is one node-sized join
    * fetching both neighbor arrays, a map-side explode into the
    * Σ deg(frontier) candidates (the second-order state node2vec
    * inherently needs), a codegen'd array_contains triangle test —
    * never an all-pairs product — and one per-walk window for the
    * cumulative ranges. A dead end truncates with NULLs, exactly like
    * the first-order walks.
    *
    * @param pNum,pDen return parameter p as a positive rational
    * @param qNum,qDen in-out parameter q as a positive rational
    * @return per start node: node, step_0..step_<walkLen> */
  def deterministicWalksNode2vec(edges: DataFrame, srcCol: String,
                                 dstCol: String, walkLen: Int, salt: String,
                                 pNum: Long, pDen: Long,
                                 qNum: Long, qDen: Long): DataFrame = {
    require(walkLen >= 1 && walkLen <= 8, s"walkLen in [1, 8], got $walkLen")
    val bias = node2vecBias(pNum, pDen, qNum, qDen)
    val adj = uniformAdjacency(edges, srcCol, dstCol, None)
    walk(adj, walkLen, secondOrder = true) { (walks, t) =>
      if (t == 1) uniformHop(walks, adj, 1, salt)
      else secondOrderHop(walks, adj, t, salt, bias, weighted = false)
    }
  }

  /** [[deterministicWalksNode2vec]] with EDGE WEIGHTS — the paper's
    * full transition kernel π(x | b, c) ∝ α_pq(b, x) · w(c, x): the
    * second-order p/q bias multiplied by the first-order edge weight,
    * both exact longs, drawn with the same cumulative-range md5 pick.
    * Hop 1 is the [[deterministicWalksWeighted]] draw (no previous
    * node). Degenerate equivalences the spec pins: p = q = 1 is
    * BIT-IDENTICAL to [[deterministicWalksWeighted]]; all weights 1 is
    * BIT-IDENTICAL to [[deterministicWalksNode2vec]] — the four walk
    * generators form a commuting square. Same per-hop shape as the
    * unweighted second-order walk; parallel (src, dst) duplicates
    * merge additively; weights must be ≥ 1 (loud guard). */
  def deterministicWalksNode2vecWeighted(edges: DataFrame, srcCol: String,
                                         dstCol: String, wCol: String,
                                         walkLen: Int, salt: String,
                                         pNum: Long, pDen: Long,
                                         qNum: Long, qDen: Long)
      : DataFrame = {
    require(walkLen >= 1 && walkLen <= 8, s"walkLen in [1, 8], got $walkLen")
    val bias = node2vecBias(pNum, pDen, qNum, qDen)
    // per node: the (dst, w) structs hops ≥ 2 explode, the dst-only
    // array for the triangle test and hop 1's positional pick, plus the
    // shared cumulative arrays — hop 1's weights are just w, a STATIC
    // property of the adjacency, so its draw needs no explode + window
    val adj = weightedAdjacency(edges, srcCol, dstCol, wCol,
      "deterministicWalksNode2vecWeighted",
      arrays = Seq(sort_array(collect_set(struct(col("dst"), col("w"))))
        .as("nbrs"), sort_array(collect_set(col("dst"))).as("nbrsD")),
      nbrs = Seq(col("nbrs"), col("nbrsD")))
    walk(adj, walkLen, secondOrder = true) { (walks, t) =>
      if (t == 1) weightedHop(walks, adj, 1, salt, "c", "nbrsD")
      else secondOrderHop(walks, adj, t, salt, bias, weighted = true)
    }
  }

  /** The walk engine's ARRAY adjacency, persisted (optimization r16,
    * guide §2.3/§2.4): one (src, dst-sorted neighbor array, deg) row
    * per node instead of one indexed row per edge. collect_set dedups
    * INSIDE the aggregation (no standalone distinct exchange) and
    * sort_array replaces the row_number + count windows, so each hop is
    * ONE equi-join against this node-sized relation; element_at(nbrs,
    * pick + 1) is the dst at row_number idx = pick in the same dst
    * order, BIT-IDENTICAL to the indexed form. [[weightedAdjacency]] is
    * the cumulative-weight variant.
    *
    * HUB BOUND (both adjacency builders): a hub becomes ONE array row
    * of its full degree — its whole neighbor list is collected into one
    * task's aggregation buffer and ships as one row to every hop join
    * that reaches it. `maxDeg` ([[deterministicWalks]] only; slice of
    * the first maxDeg dst-sorted neighbors) is the only cap, and it
    * bounds the persisted row and every downstream join; the collect
    * itself still sees the full list. A raw web graph with degree-10⁸
    * hubs needs `maxDeg` or pre-capped edges. */
  private def uniformAdjacency(edges: DataFrame, srcCol: String,
                               dstCol: String,
                               maxDeg: Option[Long]): DataFrame = {
    val nbrs0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .groupBy("src").agg(sort_array(collect_set(col("dst"))).as("nbrs"))
    maxDeg.fold(nbrs0)(m =>
        nbrs0.select(col("src"), slice(col("nbrs"), 1, m.toInt).as("nbrs")))
      .select(col("src"), col("nbrs"),
        size(col("nbrs")).cast("long").as("deg"))
      .persist(Lvl)
  }

  /** The WEIGHTED array adjacency, persisted: parallel (src, dst) rows
    * merge additively and every merged weight must be ≥ 1 (loud per-row
    * guard naming `caller`); one cumulative-weight Window over |E| rows
    * (the src partitioning the array aggregation needs anyway) gives
    * each edge its cum, and one aggregation per node collects
    * `arrays` :+ the dst-sorted (dst, cum) structs `dc`. Output: src,
    * `nbrs` (the neighbor arrays the caller projects, reading `dc` or
    * `arrays`), cums (strictly increasing since w ≥ 1), tot = last cum.
    * The ranges are a STATIC property of the adjacency, so a first-
    * order hop is a positional pick ([[weightedHop]]) with no per-hop
    * window. Same hub bound as [[uniformAdjacency]], with no cap. */
  private def weightedAdjacency(edges: DataFrame, srcCol: String,
                                dstCol: String, wCol: String, caller: String,
                                arrays: Seq[Column],
                                nbrs: Seq[Column]): DataFrame = {
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(wCol).cast("long").as("w"))
      .groupBy("src", "dst").agg(sum(col("w")).as("w"))
      .withColumn("w", col("w") + coalesce(assert_true(col("w") >= 1L,
        concat(lit(s"$caller: merged weight "),
          col("w").cast("string"),
          lit(" < 1 — weights must be positive longs"))).cast("long"),
        lit(0L)))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("dst"))
    // sort_array over (dst, cum) structs: dst is unique per src, so the
    // struct order IS the dst order and cums comes out ascending
    val aggs = arrays :+ sort_array(collect_set(struct(col("dst"), col("cum"))))
      .as("dc")
    val adj = e
      .withColumn("cum", sum(col("w")).over(wOrd
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)).cast("long"))
      .groupBy("src").agg(aggs.head, aggs.tail: _*)
      .select((col("src") +: nbrs :+
        transform(col("dc"), s => s.getField("cum")).as("cums")): _*)
    adj.select((adj.columns.toSeq.map(col) :+
        element_at(col("cums"), -1).as("tot")): _*)
      .persist(Lvl)
  }

  /** The hop draw shared by every walk generator: md5(start, t, current,
    * salt) as a 28-bit long — conv(md5) % range is the srmCheck
    * assignment convention. The IDENTICAL string in all four walkers is
    * what makes their degenerate cases bit-identical. */
  private def walkDraw(t: Int, salt: String): Column =
    expr("cast(conv(substring(md5(concat(cast(node as string), " +
      s"'#$t#', cast(step_${t - 1} as string), '$salt')), 1, 7), " +
      "16, 10) as bigint)")

  /** The p/q biases α_pq of a second-order walk as exact longs
    * (return, triangle, explore) = (pDen·qNum, pNum·qNum, pNum·qDen). */
  private def node2vecBias(pNum: Long, pDen: Long,
                           qNum: Long, qDen: Long): (Long, Long, Long) = {
    require(pNum >= 1 && pDen >= 1 && qNum >= 1 && qDen >= 1,
      s"p and q must be positive rationals, got $pNum/$pDen, $qNum/$qDen")
    (pDen * qNum, pNum * qNum, pNum * qDen)
  }

  /** The hop loop of the four walk generators: step_0 = every adjacency
    * source, then `hop(walks, t)` for t = 1..walkLen. A `secondOrder`
    * walk pins every NON-final hop behind `localCheckpoint(true)` and
    * then releases its predecessor: hop t ≥ 2 reads its predecessor
    * TWICE (candidate + dead branches), so an un-truncated chain would
    * re-execute the whole walk history 2^t times. The final hop is read
    * once by the caller and stays lazy; the checkpoint it reads is the
    * caller's/clearCache's to free. First-order hops read their
    * predecessor once and are never checkpointed. */
  private def walk(adj: DataFrame, walkLen: Int, secondOrder: Boolean)
                  (hop: (DataFrame, Int) => DataFrame): DataFrame =
    (1 to walkLen).foldLeft(
        adj.select(col("src").as("node"), col("src").as("step_0"))) {
      (walks, t) =>
        val next = hop(walks, t)
        if (!secondOrder || t == walkLen) next
        else {
          val pinned = next.localCheckpoint(true)
          releaseCheckpoint(walks)
          pinned
        }
    }

  /** One UNIFORM first-order hop over a [[uniformAdjacency]]: step_t =
    * nbrs[draw % deg] of step_(t-1). A dead end (no adjacency row)
    * leaves h_deg NULL, so the pick and the step stay NULL — the
    * documented truncation. */
  private def uniformHop(walks: DataFrame, adj: DataFrame, t: Int,
                         salt: String): DataFrame =
    walks
      .join(adj.select(col("src").as("h_src"), col("nbrs").as("h_nbrs"),
        col("deg").as("h_deg")), col(s"step_${t - 1}") === col("h_src"), "left")
      .select((walks.columns.toSeq.map(col) :+ element_at(col("h_nbrs"),
        (walkDraw(t, salt) % col("h_deg") + lit(1L)).cast("int"))
        .as(s"step_$t")): _*)

  /** One WEIGHTED first-order hop over a [[weightedAdjacency]]: r = draw
    * % tot, step_t = dsts[#{cum ≤ r} + 1] — the neighbor whose range
    * [cum − w, cum) contains r. The draw is projected into its own
    * column and referenced twice, so the md5 is evaluated once per row,
    * never once per array element (CollapseProject does not inline
    * non-trivial aliases used > 1×). `dsts` names the adjacency's
    * dst-only array and `as` prefixes the joined adjacency columns. */
  private def weightedHop(walks: DataFrame, adj: DataFrame, t: Int,
                          salt: String, as: String, dsts: String): DataFrame = {
    val (src, nbrs, cums, tot) =
      (s"${as}_src", s"${as}_$dsts", s"${as}_cums", s"${as}_tot")
    walks
      .join(adj.select(col("src").as(src), col(dsts).as(nbrs),
        col("cums").as(cums), col("tot").as(tot)),
        col(s"step_${t - 1}") === col(src), "left")
      .withColumn("r", when(col(tot).isNull, lit(null).cast("long"))
        .otherwise(walkDraw(t, salt) % col(tot)))
      .select((walks.columns.toSeq.map(col) :+ when(col("r").isNull,
        lit(null).cast(elementType(adj, dsts))).otherwise(
        element_at(col(nbrs),
          size(filter(col(cums), c => c <= col("r"))) + lit(1)))
        .as(s"step_$t")): _*)
  }

  /** One SECOND-ORDER hop t ≥ 2 (optimization r16 shape): one
    * node-sized join fetches BOTH neighbor arrays — N(cur) to explode
    * MAP-SIDE into candidates x, N(prev) for the codegen'd
    * array_contains triangle test — each candidate weighted α_pq(prev,
    * x), times the exploded struct's `w` when `weighted` (the arrays
    * are then the (dst, w) `nbrs` and the dst-only `nbrsD`). cum and
    * tot share ONE Window (same partition + order spec) — one sort
    * pass — and r = draw % tot picks the candidate whose range
    * [cum − wt, cum) contains it. A walk whose cur is NULL (truncated
    * earlier) or has no adjacency row (a dead end — possible on
    * directed inputs) takes the map-side dead branch; survivors and
    * dead walks re-assemble by MAP-SIDE union, no per-hop re-join. */
  private def secondOrderHop(walks: DataFrame, adj: DataFrame, t: Int,
                             salt: String, bias: (Long, Long, Long),
                             weighted: Boolean): DataFrame = {
    val (wReturn, wCommon, wFar) = bias
    val prev = s"step_${t - 2}"
    val dsts = if (weighted) "nbrsD" else "nbrs"
    val keep = walks.columns.toSeq.map(col)
    val frontier = walks
      .join(adj.select(col("src").as("c_src"), col("nbrs").as("c_nbrs")),
        col(s"step_${t - 1}") === col("c_src"), "left")
      .join(adj.select(col("src").as("p_src"), col(dsts).as(s"p_$dsts")),
        col(prev) === col("p_src"), "left")
    // unweighted candidates are the dst values; weighted, (dst, w) structs
    val (el, x) = if (weighted) ("s", col("s.dst")) else ("x", col("x"))
    val alpha = when(x === col(prev), lit(wReturn))
      .otherwise(when(array_contains(col(s"p_$dsts"), x),
        lit(wCommon)).otherwise(lit(wFar)))
    val cand = frontier.filter(col("c_nbrs").isNotNull)
      .select((keep :+ col(s"p_$dsts") :+ explode(col("c_nbrs")).as(el)): _*)
      .select((keep :+ (if (weighted) x.as("x") else x) :+
        (if (weighted) alpha * col("s.w") else alpha).cast("long").as("wt")): _*)
    val wWalk = org.apache.spark.sql.expressions.Window
      .partitionBy(col("node")).orderBy(col("x"))
    val picked = cand
      .withColumn("cum", sum(col("wt")).over(wWalk
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow))
        .cast("long"))
      .withColumn("tot", sum(col("wt")).over(wWalk
        .rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing))
        .cast("long"))
      .withColumn("r", walkDraw(t, salt) % col("tot"))
      .filter(col("r") >= col("cum") - col("wt") && col("r") < col("cum"))
      .select((keep :+ col("x").as(s"step_$t")): _*)
    val dead = frontier.filter(col("c_nbrs").isNull)
      .select((keep :+ lit(null).cast(elementType(adj, dsts))
        .as(s"step_$t")): _*)
    picked.unionAll(dead)
  }

  /** The element type of an adjacency array column: the walk's dst type,
    * which a truncated step's NULL is cast to. */
  private def elementType(adj: DataFrame,
                          array: String): org.apache.spark.sql.types.DataType =
    adj.schema(array).dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType

  /** DETERMINISTIC word2vec-style negative sampling over a
    * (center, context, cnt) pair corpus — the third leg of the
    * DeepWalk/node2vec training pipeline after [[deterministicWalks]]
    * and [[walkPairs]] (Mikolov et al. 2013 §2.2): each positive pair
    * draws `numNeg` negatives from the SMOOTHED unigram distribution
    * P(x) ∝ f(x)^¾ over context frequencies, under the engine's
    * hash-not-RNG discipline so the sample table is a pure function of
    * (corpus, salt).
    *
    * EXACTNESS: f^¾ = f / f^¼ = f / sqrt(sqrt(f)) — two IEEE square
    * roots and one division, every step correctly rounded, so both
    * engines integerize the identical weight wl = floor(f/√√f · 1024).
    * Draw j for pair (c, x) is r = md5(c, x, j, salt) % Σwl, resolved
    * to the node whose cumulative range [cum − wl, cum) contains r.
    *
    * SCALE — the bucket-join inverse-CDF: the vocabulary table rows
    * are exploded onto fixed-width buckets of the cumulative axis
    * (each row spans ~1 bucket; ≤ vocab + nBuckets replicas), the
    * draws compute their bucket as r div width, and the lookup is an
    * EQUI-join on the bucket id with the range condition as a filter —
    * never a nested-loop range probe. The vocab table is model-sized
    * by construction (word2vec's sampling table is vocab-resident by
    * design); its one global cumulative window is the documented
    * vocab-sized step, while the pair × numNeg side stays a map-side
    * explode into a broadcastable hash join.
    *
    * A draw may land on the pair's own context (or center) — the
    * word2vec reference implementation re-draws those; here a re-draw
    * would break the pure-function-of-(corpus, salt) contract, so the
    * collision ships and the TRAINER skips it (collisions are
    * frequency-weighted rare; filtering `neg = context` downstream is
    * one predicate and keeps the table replayable).
    *
    * @param numNeg negatives per positive pair (1..16)
    * @return (center, context, j, neg) — one row per (pair, draw) */
  def negativeSamples(pairs: DataFrame, centerCol: String,
                      contextCol: String, cntCol: String,
                      numNeg: Int, salt: String,
                      nBuckets: Int = 1024): DataFrame = {
    require(numNeg >= 1 && numNeg <= 16, s"numNeg in [1, 16], got $numNeg")
    require(nBuckets >= 1, s"nBuckets >= 1, got $nBuckets")
    // the pair corpus feeds TWO branches (the vocab frequency table and
    // the draw explode) — persist it so the upstream walk + pair chain
    // runs once, not once per branch (optimization r16; caller-owned
    // release, the tokenTable convention)
    val p = pairs.select(col(centerCol).as("center"),
      col(contextCol).as("context"), col(cntCol).cast("long").as("cnt"))
      .persist(Lvl)
    val freq = p.groupBy(col("context").as("node"))
      .agg(sum(col("cnt")).as("f"))
    // f^(3/4) scaled to integer weights: every step correctly-rounded
    // IEEE (sqrt, sqrt, divide, multiply, floor) — bit-identical in
    // the oracle's replay
    val fD = col("f").cast("double")
    val wt = freq.select(col("node"),
      floor(fD / sqrt(sqrt(fD)) * lit(1024.0)).cast("long").as("wl"))
    // vocab-sized; read by totRow AND the bucket explode — persist so
    // the frequency aggregation + single-partition cumulative window
    // run once (r16)
    val cum = wt
      .withColumn("cum", sum(col("wl")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("node"))
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow))
        .cast("long"))
      .persist(Lvl)
    val totRow = cum.agg(max(col("cum")).as("tot"))
      .select(col("tot"),
        expr(s"(tot + ${nBuckets.toLong - 1}) div ${nBuckets.toLong}")
          .as("width"))
    // vocab rows onto their overlapped buckets (scalar-broadcast of the
    // one-row totals — the established pattern, never a collect).
    // Bucket ids use EXACT integer division (div), not double `/`:
    // a rounded-up quotient near 2^53 would land a row one bucket off.
    val buckets = cum.crossJoin(broadcast(totRow))
      .select(col("node"), col("wl"), col("cum"),
        explode(sequence(
          expr("(cum - wl) div width"),
          expr("(cum - 1) div width"))).as("b"))
    val draws = p
      .select(col("center"), col("context"),
        explode(sequence(lit(1), lit(numNeg))).as("j"))
      .crossJoin(broadcast(totRow))
      .withColumn("r",
        expr(("cast(conv(substring(md5(concat(cast(center as string), " +
          "'#', cast(context as string), '#', cast(j as string), " +
          s"'#$salt')), 1, 7), 16, 10) as bigint)")) % col("tot"))
      .withColumn("b", expr("r div width"))
    // the bucket table is vocab + nBuckets rows — model-sized by the
    // op's design (word2vec's sampling table is vocab-resident), so
    // BROADCAST it: the draw side (pairs × numNeg, the corpus-sized
    // relation) is never exchanged or sorted (r16, guide §3.1 — the
    // planner saw unknown stats through the window chain and picked a
    // sort-merge join that shuffled every draw)
    draws
      .join(broadcast(buckets), Seq("b"))
      .filter(col("r") >= col("cum") - col("wl") && col("r") < col("cum"))
      .select(col("center"), col("context"), col("j"), col("node").as("neg"))
  }

  /** Skip-gram pair extraction over a [[deterministicWalks]] table —
    * the actual DeepWalk/node2vec TRAINING CORPUS: every ordered
    * (center, context) position pair within `window` hops of each
    * other, aggregated to (center, context, cnt). Map-only (one
    * explode over the ≤ (L+1)·2w literal index pairs per walk) into a
    * single hash aggregation; truncated walks contribute only their
    * non-NULL prefix.
    *
    * @param walkLen the walk table's hop count (columns step_0..L)
    * @param window  max |i − j| between paired positions (>= 1)
    * @return (center, context, cnt), one row per observed pair */
  def walkPairs(walks: DataFrame, walkLen: Int,
                window: Int): DataFrame = {
    require(window >= 1, s"window >= 1, got $window")
    val idx = 0 to walkLen
    val pairs = for {
      i <- idx; j <- idx
      if i != j && math.abs(i - j) <= window
    } yield struct(col(s"step_$i").as("center"),
      col(s"step_$j").as("context"))
    walks
      .select(explode(array(pairs: _*)).as("p"))
      .select(col("p.center").as("center"), col("p.context").as("context"))
      .filter(col("center").isNotNull && col("context").isNotNull)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).cast("long").as("cnt"))
  }
}
