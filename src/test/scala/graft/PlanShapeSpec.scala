package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Physical-plan shape pins for this round's operators: the properties
  * that make them 100 TB-safe are PLAN facts (no cartesian products,
  * probe sides broadcast, df caps applied before self-joins), so they
  * are asserted here — a regression that silently flips a join to
  * nested-loop or materializes all-pairs fails the suite, not just the
  * bench. */
class PlanShapeSpec extends SparkTestBase {

  private def planString(df: DataFrame): String = {
    df.collect() // force execution so AQE settles on final plans
    def unwrap(p: SparkPlan): String = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case other => other.toString
    }
    unwrap(df.queryExecution.executedPlan)
  }

  test("winnowPairs: no cartesian product; the join keys on fp") {
    val plan = planString(graft.ops.Fingerprints.winnowPairs(
      graft.core.Tables.documents(spark, sf0001), k = 3, w = 4,
      minShared = 2, dfCap = 50))
    assert(!plan.contains("CartesianProduct"), "postings join went all-pairs")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "postings join went nested-loop")
    spark.catalog.clearCache()
  }

  test("rerankExact: queries broadcast, no nested-loop against the corpus") {
    val emb = graft.core.Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 5)
    val shortlist = graft.ops.Ann.bruteTopK(emb, queries, k = 10)
    val plan = planString(
      graft.ops.Ann.rerankExact(shortlist, emb, queries, k = 3))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "query side must broadcast")
    assert(!plan.contains("CartesianProduct"))
  }

  test("multiProbeLshTopK: bucket-keyed join, probe side broadcast, no cartesian") {
    val emb = graft.core.Tables.embeddings(spark, sf0001)
    val plan = planString(graft.ops.Ann.multiProbeLshTopK(
      emb, emb.filter(col("vec_id") < 5), k = 3, dim = 64,
      planes = 6, nProbe = 3))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("ngramJaccardPrefix: hash self-join on the prefix postings, no cartesian/nested-loop") {
    val plan = planString(graft.ops.Dedup.ngramJaccardPrefix(
      graft.core.Tables.documents(spark, sf0001), tau = 0.4, blockCol = "lang"))
    assert(plan.contains("ShuffledHashJoin") || plan.contains("BroadcastHashJoin"),
      "prefix self-join must be a hash join (shuffle_hash hint)")
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    spark.catalog.clearCache()
  }

  test("cdcDupMass: single chunk materialization feeds both consumers (InMemory reuse)") {
    val out = graft.ops.Fingerprints.cdcDupMass(
      graft.core.Tables.documents(spark, sf0001), k = 3, divisor = 16)
    val plan = planString(out)
    // the persisted chunk table must appear as an in-memory scan —
    // i.e. the tokenize+chunk pass is NOT inlined twice
    assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
      s"chunk table not reused from cache:\n${plan.take(800)}")
    spark.catalog.clearCache()
  }
  test("simhashStoreAppend emission: hash joins on band keys, no cartesian/nested-loop") {
    val dir = java.nio.file.Files.createTempDirectory("plan_simhash").toString
    val docs = graft.core.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    // seed an earlier batch so the CROSS (batch-vs-store) side is in the plan
    graft.ops.Dedup.simhashStoreAppend(
      docs.filter(col("doc_id") % 2 === 0), dir, "b0")
    val out = graft.ops.Dedup.simhashStoreAppend(
      docs.filter(col("doc_id") % 2 === 1), dir, "b1")
    val plan = planString(out)
    assert(plan.contains("ShuffledHashJoin") || plan.contains("BroadcastHashJoin"),
      "banded pair joins must be hash joins")
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    spark.catalog.clearCache()
  }

  test("DqStream report: store scans carry per-check PushedFilters, no row funnel") {
    import graft.streaming.DqStream
    val dir = java.nio.file.Files.createTempDirectory("plan_dq").toString
    import spark.implicits._
    val checks = Seq(
      DqStream.NullCheck("nc", "v"),
      DqStream.DupKeyCheck("dk", "k"))
    DqStream.processBatch(
      Seq((1L, 5L), (1L, 6L)).toDF("k", "v"), dir, "b0", checks)
    val rep = DqStream.report(spark, dir, checks)
    val plan = planString(rep)
    assert(plan.contains("PushedFilters: [EqualTo(check,"),
      s"check discriminator must push into the store scan:\n${plan.take(600)}")
    assert(!plan.contains("CartesianProduct"))
  }

  test("pageRank: iteration join is hash-based on the edge relation, no cartesian") {
    // the returned frame is a checkpointed LEAF (the linear-rounds
    // lineage discipline truncates every round's plan), so the join
    // shape is pinned on the ITERATION construction itself — the same
    // (edges ⋈ deg ⋈ ranks → agg) relation every round repeats and
    // Plans.scala dumps
    val edges = graft.ops.Graph.copurchaseEdges(
      graft.core.Tables.lineitem(spark, sf0001)
        .select(col("l_orderkey"), col("l_partkey")),
      "l_orderkey", "l_partkey", minItemSupport = 2)
    val deg = edges.groupBy("src").agg(count(lit(1)).cast("long").as("deg"))
    val ranks0 = deg.select(col("src").as("node"))
      .withColumn("rank", lit(1.0 / 1000))
    val iter = edges.join(deg, "src")
      .join(ranks0.withColumnRenamed("node", "src"), "src")
      .select(col("dst").as("node"),
        floor((col("rank") / col("deg")) * lit(1e18)).cast("long").as("c"))
      .groupBy("node").agg(sum(col("c")).as("in_mass"))
    val plan = planString(iter)
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("SortMergeJoin"), "rank join must be an equi-join")
    // and the RETURNED frame is indeed leaf-checkpointed: no join
    // re-execution rides on every downstream read of the final ranks
    val ranks = graft.ops.Graph.pageRank(edges, "src", "dst", iters = 2)
    assert(planString(ranks).contains("Scan ExistingRDD"),
      "final ranks must be a checkpointed leaf (O(1) planning per round)")
    spark.catalog.clearCache()
  }

  test("blockedBestMatch: equi-join on the block key, length prune in the plan, no cartesian") {
    val cust = graft.core.Tables.customer(spark, sf0001)
    val dirty = cust.select(col("c_custkey").as("d_key"), col("c_nationkey"),
      col("c_name").as("d_name"))
    val plan = planString(graft.ops.Linkage.blockedBestMatch(dirty, cust,
      Seq("c_nationkey"), "d_key", "d_name", "c_custkey", "c_name", maxDist = 2))
    assert(!plan.contains("CartesianProduct"),
      "blocking must key the join — all-pairs means the block key fell out")
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(plan.contains("levenshtein"), "edit distance evaluates post-join, in-plan")
  }

  test("distinctiveTerms: per-group totals broadcast; no cartesian beyond the 1-row grand total") {
    val plan = planString(graft.ops.TextStats.distinctiveTerms(
      graft.core.Tables.documents(spark, sf0001), "source",
      minCount = 2, topK = 3))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "per-group totals must broadcast")
    assert(!plan.contains("CartesianProduct"))
    spark.catalog.clearCache()
  }

  test("triangleCounts: wedge self-join + closing join are equi-joins, never cartesian") {
    import spark.implicits._
    val und = (1L to 40L).flatMap(i => Seq((i, i % 40 + 1), (i, (i + 7) % 40 + 1)))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val plan = planString(graft.ops.Graph.triangleCounts(edges, "src", "dst"))
    assert(!plan.contains("CartesianProduct"), "wedge join went all-pairs")
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    spark.catalog.clearCache()
  }

  test("commonNeighborLinks: center-keyed wedge join + anti-join, no cartesian/nested-loop") {
    import spark.implicits._
    val und = (1L to 40L).flatMap(i => Seq((i, i % 40 + 1), (i, (i + 11) % 40 + 1)))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val plan = planString(graft.ops.Graph.commonNeighborLinks(
      edges, "src", "dst", maxCenterDeg = 10, minCommon = 1))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    spark.catalog.clearCache()
  }

  test("imageNearDup: band-bucket hash join, no cartesian; hash stage is map-only up to the exchange") {
    import spark.implicits._
    val rows = (1L to 30L).map { i =>
      i -> graft.ops.Multimodal.encodeBmp(9, 8, (x, y) =>
        (((i % 7) * 37 + x * 11 + y * 29) % 256).toInt * 0x010101)
    }.toDF("media_id", "content")
    val plan = planString(graft.ops.Multimodal.imageNearDup(rows, maxHamming = 3))
    assert(!plan.contains("CartesianProduct"), "band join went all-pairs")
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    spark.catalog.clearCache()
  }

  test("hll registers: one exchange total (a sketch build is one hash aggregation)") {
    import spark.implicits._
    val df = (1 to 2000).map(i => s"v$i").toDF("v")
    val plan = planString(graft.ops.Hll.registers(df, Nil, "v", 256))
    assert(plan.split("Exchange").length - 1 <= 1,
      s"register build must be one partial+final agg pair:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("cms build: vocab agg then map-side cell explode — two exchanges, no join") {
    import spark.implicits._
    val df = (1 to 2000).map(i => s"t${i % 300}").toDF("v")
    val plan = planString(graft.ops.Cms.build(df, "v", 4, 1024))
    assert(plan.split("Exchange").length - 1 <= 2,
      s"build is two agg pairs (vocab, cells) with the explode between:\n$plan")
    assert(!plan.contains("Join"), "the cell scatter must be a map-side explode, not a join")
  }

  test("cms probe: sketch side broadcast, never a shuffle of the probe relation per row") {
    import spark.implicits._
    val items = (1 to 500).flatMap(i => Seq.fill(2)(s"t$i")).toDF("v")
    val sk = graft.ops.Cms.build(items, "v", 4, 1024)
    val plan = planString(
      graft.ops.Cms.probe((1 to 50).map(i => s"t$i").toDF("v"), sk, 4, 1024))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "the d·w-row sketch must broadcast")
    assert(!plan.contains("CartesianProduct"))
    spark.catalog.clearCache()
  }

  test("resourceAllocationLinks: no cartesian/nested-loop anywhere in the wedge pipeline") {
    import spark.implicits._
    val edges = (1L to 60L).flatMap(i => Seq((i, i % 20 + 100), (i % 15 + 100, i)))
      .toDF("src", "dst")
    val plan = planString(graft.ops.Graph.resourceAllocationLinks(
      edges, "src", "dst", maxCenterDeg = 50, minCommon = 1))
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    spark.catalog.clearCache()
  }

  // Exchange-count pins for the shared wedge and co-purchase builders
  // (the `hll registers` style; values measured before the builders were
  // shared). The count covers the cached relations' inner plans too, so
  // a wedge side projected differently (e.g. carrying deg through the
  // self-join: 37 → 31, 43 → 37) or a co-purchase half left
  // un-persisted before mirroring (30 → 14, 28 → 14) both move it.
  private def exchanges(plan: String): Int = plan.split("Exchange").length - 1

  test("link predictors: wedge sides projected alike, no weight through the self-join (exchange count pinned)") {
    import spark.implicits._
    val und = (1L to 40L).flatMap(i => Seq((i, i % 40 + 1), (i, (i + 11) % 40 + 1)))
    val cnl = planString(graft.ops.Graph.commonNeighborLinks(
      (und ++ und.map(_.swap)).toDF("src", "dst"), "src", "dst",
      maxCenterDeg = 10, minCommon = 1))
    assert(exchanges(cnl) === 37, s"commonNeighborLinks:\n$cnl")
    val ra = planString(graft.ops.Graph.resourceAllocationLinks(
      (1L to 60L).flatMap(i => Seq((i, i % 20 + 100), (i % 15 + 100, i)))
        .toDF("src", "dst"), "src", "dst", maxCenterDeg = 50, minCommon = 1))
    assert(exchanges(ra) === 43, s"resourceAllocationLinks:\n$ra")
    spark.catalog.clearCache()
  }

  test("co-purchase builds: the canonical half is persisted before mirroring (exchange count pinned)") {
    import spark.implicits._
    val baskets = (1L to 60L)
      .flatMap(b => Seq(b % 7, b % 5 + 10, b % 3 + 20).map(i => (b, i)))
      .toDF("basket", "item")
    val cp = planString(graft.ops.Graph.copurchaseEdges(baskets, "basket", "item", 2))
    assert(exchanges(cp) === 30, s"copurchaseEdges:\n$cp")
    val cpw = planString(
      graft.ops.Graph.copurchaseWeightedEdges(baskets, "basket", "item", 2))
    assert(exchanges(cpw) === 28, s"copurchaseWeightedEdges:\n$cpw")
    spark.catalog.clearCache()
  }

  // Exchange-count pins for ops.Abtest's shared builders, values measured
  // before the builders were shared: a card is one unit-grain aggregation
  // and one per-arm aggregation, a trace one per-tag aggregation under one
  // window. A unit grain (or a per-tag aggregation) computed twice gives
  // 4 instead of 2.
  test("Abtest cards: one unit grain, one per-arm aggregation (exchange count pinned)") {
    import spark.implicits._
    // q_ab_readout's shape (batch_suite's Abtest path) on the sf0.001 events
    val ro = planString(graft.ops.Abtest.readout(
      graft.core.Tables.events(spark, sf0001), Nil, "user_id",
      "event_type = 'purchase' AND value > 110", "exp1"))
    assert(exchanges(ro) === 2, s"readout:\n$ro")
    val df = (1L to 300L).map(u => (u, u % 9 == 0, u % 7 * 2L, u % 5 * 3L))
      .toDF("u", "c", "y", "x")
    val mr = planString(graft.ops.Abtest.meanReadout(df, "u", "y", "p1"))
    assert(exchanges(mr) === 2, s"meanReadout:\n$mr")
    val cr = planString(graft.ops.Abtest.cupedReadout(df, "u", "y", "x", "p1"))
    assert(exchanges(cr) === 2, s"cupedReadout:\n$cr")
  }

  test("Abtest traces: one per-tag pivot under one window (exchange count pinned)") {
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("plan_ab").toString + "/s"
    val rows = (1L to 300L).map(u => (u, u % 9 == 0, u % 7 * 2L, 0L))
      .toDF("u", "c", "y", "x")
    (0L to 2L).foreach { k =>
      graft.ops.Abtest.momentsStoreAppend(rows.filter($"u" % 3 === k), store,
        s"b$k", "u", "c", "y", "x", salt = "p1")
    }
    val tr = planString(graft.ops.Abtest.readoutTrace(spark, store))
    assert(exchanges(tr) === 2, s"readoutTrace:\n$tr")
    val bt = planString(graft.ops.Abtest.boundaryTrace(spark, store))
    assert(exchanges(bt) === 2, s"boundaryTrace:\n$bt")
  }

  // Plan pins for ops.Stats' shared bodies (one body per statistic, the
  // whole-input card being the grouped one over no group columns), values
  // taken before the ungrouped and grouped copies were merged. The
  // whole-input card broadcasts its distinct-value-sized sides; the
  // grouped card keys its joins on the segment. Size-based broadcasting
  // is off in the join test so that only the body's own hints broadcast.
  test("Stats cards: global rank and pair sides broadcast, grouped pairs key on the segment") {
    import spark.implicits._
    val df = (1L to 120L).map(i => (s"s${i % 2}", i % 11, i * 7 % 13))
      .toDF("seg", "x", "y")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val sp = planString(graft.ops.Stats.spearman(df, "x", "y"))
      assert("BroadcastHashJoin".r.findAllMatchIn(sp).size === 2,
        s"both rank tables broadcast:\n$sp")
      assert(!sp.contains("SortMergeJoin"), s"spearman:\n$sp")
      val kc = planString(graft.ops.Stats.kendallCells(df, "x", "y"))
      assert(raw"BroadcastNestedLoopJoin BuildRight, Inner, \(x1#\d+L < x2#\d+L\)"
        .r.findFirstIn(kc).nonEmpty, s"pair side broadcast:\n$kc")
      val kg = planString(graft.ops.Stats.kendallCells(df, Seq("seg"), "x", "y"))
      assert(raw"Join \[seg#\d+\], \[r_seg#\d+\], Inner".r.findFirstIn(kg)
        .nonEmpty, s"pair join keys on the segment:\n$kg")
      assert(!kg.contains("NestedLoopJoin") && !kg.contains("CartesianProduct"),
        s"segments never cross:\n$kg")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.catalog.clearCache()
  }

  test("Stats kappa: exchange count pinned, global and by segment") {
    import spark.implicits._
    val lab = (1L to 200L).map(i => (s"s${i % 3}", s"c${i % 4}", s"c${i * 3 % 5}"))
      .toDF("seg", "act", "pred")
    val kg = planString(graft.ops.Stats.kappa(lab, "act", "pred"))
    assert(exchanges(kg) === 12, s"kappa:\n$kg")
    val kb = planString(graft.ops.Stats.kappa(lab, Seq("seg"), "act", "pred"))
    assert(exchanges(kb) === 12, s"kappa by segment:\n$kb")
    spark.catalog.clearCache()
  }

  test("degreeAssortativity: degree table broadcast on both end joins") {
    import spark.implicits._
    val edges = (1L to 200L).map(i => (i, i % 40 + 500)).toDF("src", "dst")
    val plan = planString(graft.ops.Graph.degreeAssortativity(edges, "src", "dst"))
    assert(plan.split("BroadcastHashJoin").length - 1 >= 2,
      s"both end joins must broadcast the node-sized degree table:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      "an SMJ here would sort 2|E| adjacency rows for a node-sized build side")
    spark.catalog.clearCache()
  }

  test("orc scan: filter pushes down and projection prunes, like parquet") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("orcp").toString + "/t"
    (1L to 1000L).map(i => (i, s"v$i", i % 7)).toDF("id", "s", "grp")
      .write.mode("overwrite").orc(dir)
    val df = spark.read.orc(dir).filter(col("id") < 10).select("id", "grp")
    val plan = planString(df)
    assert(plan.contains("PushedFilters: [LessThan(id,10)]"),
      s"ORC scan must push the filter:\n$plan")
    assert(plan.contains("ReadSchema: struct<id:bigint,grp:bigint>"),
      s"ORC scan must prune the unused string column:\n$plan")
  }

  test("hll pairOverlap: pure register-table algebra — membership joins hash, never cartesian") {
    import spark.implicits._
    val df = (1 to 2000).map(i => (s"s${i % 4}", s"v$i")).toDF("g", "v")
    val regs = graft.ops.Hll.registers(df, Seq("g"), "v", 256)
    val plan = planString(graft.ops.Hll.pairOverlap(regs, "g", 256))
    assert(!plan.contains("CartesianProduct"), s"pair matrix went all-pairs:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") ||
      plan.split("BroadcastNestedLoopJoin").length - 1 <= 1,
      "only the tiny group-pair build may nest; register joins must hash")
    spark.catalog.clearCache()
  }

  test("snapshotDiff: one keyed join (no cartesian), aggregation collapses to a single row before unpivot") {
    import spark.implicits._
    val a = (1L to 500L).map(i => (i, s"v$i")).toDF("id", "f")
    val b = (1L to 500L).map(i => (i, s"w$i")).toDF("id", "f")
    val plan = planString(graft.ops.Profile.snapshotDiff(a, b, "id", Seq("f")))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"snapshot diff must join on the key only:\n$plan")
    assert(plan.contains("Generate"),
      "the per-field unpivot must be the stack generator over the one aggregated row")
    spark.catalog.clearCache()
  }

  test("seasonalProfile: one data-sized exchange; windows run over model-sized partitions") {
    import spark.implicits._
    val df = (1L to 5000L).map(i => ("g" + (i % 3), i, i % 11)).toDF("grp", "x", "y")
    val plan = planString(
      graft.ops.Trend.seasonalProfile(df, Seq("grp"), "x", "y", period = 7))
    assert(!plan.contains("CartesianProduct") && !plan.contains("Join"),
      s"the seasonal card is join-free:\n$plan")
    // exchanges: one partial->final agg shuffle on (grp, pos) + one
    // repartition to grp for the window pass — anything more means the
    // aggregation stopped being map-side combinable
    val exchanges = plan.split("Exchange").length - 1
    assert(exchanges <= 3, s"expected <= 3 exchanges, got $exchanges:\n$plan")
    spark.catalog.clearCache()
  }
}
