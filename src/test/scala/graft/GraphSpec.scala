package graft

import org.apache.spark.sql.functions._
import graft.ops.Graph

/** PageRank over edge lists ([[graft.ops.Graph]]): closed-form checks on
  * tiny graphs, mass conservation, and the co-purchase edge builder's
  * support prefilter. */
class GraphSpec extends SparkTestBase {

  import spark.implicits._

  test("symmetric 2-cycle converges to uniform ranks immediately") {
    // a <-> b: deg 1 each, rank flows wholly to the other node, so the
    // uniform seed is the fixed point at every iteration
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = Graph.pageRank(edges, "src", "dst", iters = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r.keySet === Set(1L, 2L))
    assert(math.abs(r(1L) - 0.5) < 1e-12 && math.abs(r(2L) - 0.5) < 1e-12)
  }

  test("triangle plus pendant: hub outranks spokes, mass conserved") {
    // undirected: triangle 1-2-3, plus 4 attached to 1 => 1 is the hub
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val ranks = Graph.pageRank(edges, "src", "dst", iters = 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(ranks.size === 4)
    assert(ranks(1L) > ranks(2L) && ranks(1L) > ranks(4L))
    assert(math.abs(ranks(2L) - ranks(3L)) < 1e-12,
      "symmetric nodes 2 and 3 must tie exactly")
    // total mass: n*(1-d)/n + d*(sum of distributed mass) = 1 when every
    // node has out-degree >= 1 (undirected invariant)
    assert(math.abs(ranks.values.sum - 1.0) < 1e-9)
  }

  test("directed chain ranks sink above source; iteration count matters") {
    // 1 -> 2 -> 1 keeps mass cycling; adding 1 -> 3 splits 1's mass
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L)).toDF("src", "dst")
    val r = Graph.pageRank(edges, "src", "dst", iters = 8)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) > r(2L), "node 1 receives from both 2 and 3")
    assert(math.abs(r(2L) - r(3L)) < 1e-12)
  }

  test("copurchaseEdges: support prefilter bounds the pair blow-up") {
    // item 99 appears in one basket only -> dropped at minItemSupport=2
    val baskets = Seq(
      (10L, 1L), (10L, 2L), (10L, 99L),
      (11L, 1L), (11L, 2L),
      (12L, 1L), (12L, 3L),
      (13L, 2L), (13L, 3L)).toDF("basket", "item")
    val e = Graph.copurchaseEdges(baskets, "basket", "item", minItemSupport = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!e.exists(p => p._1 == 99L || p._2 == 99L), "rare item filtered")
    assert(e === Set((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (2L, 3L), (3L, 2L)))
  }

  test("duplicate edges collapse: rank equals the deduplicated graph") {
    val base = Seq((1L, 2L), (2L, 1L))
    val dup = (base ++ base ++ base).toDF("src", "dst")
    val r = Graph.pageRank(dup, "src", "dst", iters = 4)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r(1L) - 0.5) < 1e-12)
  }

  test("personalized PageRank: mass concentrates at the seed, zero off-component") {
    // two disconnected 2-cycles; seed only in the first
    val und = Seq((1L, 2L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("part")
    val r = Graph.personalizedPageRank(edges, "src", "dst", seeds, "part",
      iters = 6).collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(3L) === 0.0 && r(4L) === 0.0,
      "no reset mass and no path => exactly zero")
    assert(r(1L) > r(2L), "seed holds the reset mass")
    assert(math.abs(r(1L) + r(2L) - 1.0) < 1e-9, "mass conserved on the component")
    // seeds outside the node set are ignored; all-seeds == uniform reset
    val seeds2 = Seq(1L, 2L, 99L).map(Tuple1(_)).toDF("part")
    val r2 = Graph.personalizedPageRank(edges.filter(col("src") <= 2 && col("dst") <= 2),
      "src", "dst", seeds2, "part", iters = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r2(1L) - 0.5) < 1e-12 && math.abs(r2(2L) - 0.5) < 1e-12)
  }

  test("pageRank dangling: hand-exact on 1->2, mass conserved with sinks") {
    // nodes {1,2}, n=2, sink {2}; r0 = 0.5 each
    // dm = floor(0.5e18) = 5e17, dshare = dm div 2 = 2.5e17
    // r1(1) = 0.15/2 + 0.85*0.25        = 0.2875   (in_mass 0, share only)
    // r1(2) = 0.15/2 + 0.85*(0.5+0.25)  = 0.7125
    val r = Graph.pageRank(Seq((1L, 2L)).toDF("src", "dst"), "src", "dst",
        iters = 1, dangling = true)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r.keySet === Set(1L, 2L), "zero-in-degree node 1 keeps its row")
    assert(math.abs(r(1L) - 0.2875) < 1e-12 && math.abs(r(2L) - 0.7125) < 1e-12,
      s"got $r")
    // deeper run: total mass stays ~1 (fixed-point floors lose < n*1e-18/it)
    val r5 = Graph.pageRank(Seq((1L, 2L), (3L, 2L)).toDF("src", "dst"),
        "src", "dst", iters = 5, dangling = true)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r5.keySet === Set(1L, 2L, 3L))
    assert(math.abs(r5.values.sum - 1.0) < 1e-9, s"mass conserved, got $r5")
    assert(math.abs(r5(1L) - r5(3L)) < 1e-15, "symmetric sources tie")
  }

  test("pageRank non-dangling: zero-in-degree source keeps its row and feeds later hops") {
    // 3 -> 2 -> 1 -> 2: node 3 has out-degree 1 but in-degree 0; it must
    // keep rank rows every iteration (base mass) and keep contributing
    val edges = Seq((3L, 2L), (2L, 1L), (1L, 2L)).toDF("src", "dst")
    val r = Graph.pageRank(edges, "src", "dst", iters = 4)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r.keySet === Set(1L, 2L, 3L), s"got $r")
    assert(math.abs(r(3L) - 0.05) < 1e-12, "in-degree-0 node sits at (1-d)/n")
    // mass cycles between 1 and 2 (parity decides the leader); what
    // matters is that 3's contribution keeps flowing in: both cycle
    // nodes hold more than the bare base mass
    assert(r(1L) > 0.05 + 1e-9 && r(2L) > 0.05 + 1e-9, s"got $r")
  }

  test("personalized PageRank: zero-in-degree seed keeps reset mass on directed input") {
    // 3 -> 2, 2 -> 1, 1 -> 2: seed 3 never receives mass but must keep
    // its reset row (and its outgoing contribution) every iteration
    val edges = Seq((3L, 2L), (2L, 1L), (1L, 2L)).toDF("src", "dst")
    val seeds = Seq(Tuple1(3L)).toDF("part")
    val r = Graph.personalizedPageRank(edges, "src", "dst", seeds, "part",
        iters = 4).collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r.keySet === Set(1L, 2L, 3L), s"seed row survives, got $r")
    assert(math.abs(r(3L) - 0.15) < 1e-12, "seed holds exactly (1-d)/nS")
    assert(r(2L) > 0.0 && r(1L) > 0.0, "mass flows out of the seed")
  }

  test("katzCentrality: directed chain — +1 from zero-in-degree neighbor survives") {
    // 1 -> 2 -> 3: x1 = {2: 1/4, 3: 1/4};
    // x2(2) = (1 + x1(1)=0)/4 = 0.25 (node 1 has NO x row — left join),
    // x2(3) = (1 + x1(2)=0.25)/4 = 0.3125
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val r = Graph.katzCentrality(edges, "src", "dst", iters = 2)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r.keySet === Set(2L, 3L), s"got $r")
    assert(r(2L) === 0.25 && r(3L) === 0.3125, s"got $r")
  }

  test("katzCentrality: 2^53 dyadic-grid bound is enforced, not just documented") {
    // star: 16 leaves -> center, max in-degree 16; iters=13 puts the
    // conservative majorant at ~2^55.7 > 2^53 -> loud failure
    val star = (1L to 16L).map(l => (l, 100L)).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      Graph.katzCentrality(star, "src", "dst", iters = 13)
    }
    assert(ex.getMessage.contains("2^53"))
    // same graph, 3 hops: comfortably on-grid
    val ok = Graph.katzCentrality(star, "src", "dst", iters = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(ok(100L) === 16.0 / 4, "one-hop walks only (leaves have no in-edges)")
  }

  test("katzCentrality: hand-exact values on a 2-cycle; hub dominates") {
    // single undirected edge a<->b: x1 = 1/4; x2 = (1 + 1/4)/4 = 0.3125;
    // x3 = (1 + 0.3125)/4 = 0.328125 — all exact dyadic doubles
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = Graph.katzCentrality(edges, "src", "dst", iters = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(1L) === 0.328125 && r(2L) === 0.328125, s"got $r")
    // star: center 1 with leaves 2,3,4 — center counts 3 one-hop walks
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L))
    val star = (und ++ und.map(_.swap)).toDF("src", "dst")
    val k = Graph.katzCentrality(star, "src", "dst", iters = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(k(1L) > k(2L), "hub counts more damped walks")
    assert(k(2L) === k(3L) && k(3L) === k(4L), "leaves tie exactly")
  }

  test("triangleCounts: K4 is all-triangles, a star is none") {
    // K4: every node sits in C(3,2) = 3 triangles, lcc = 1.0 exactly
    val k4 = (for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b))
      .toDF("src", "dst")
    val r = Graph.triangleCounts(k4, "src", "dst")
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    assert(r.keySet === Set(1L, 2L, 3L, 4L))
    r.values.foreach { case (deg, t, lcc) =>
      assert(deg === 3L && t === 3L && lcc === 1.0)
    }
    // star: hub + 5 spokes, zero triangles; the degree-ordered
    // orientation gives the hub out-degree 0, so the wedge join sees
    // no hub-rooted wedges at all (the last-reducer guard)
    val star = (1L to 5L).map(l => (100L, l)).toDF("src", "dst")
    val s = Graph.triangleCounts(star, "src", "dst")
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    assert(s(100L) === ((5L, 0L, 0.0)))
    (1L to 5L).foreach(l => assert(s(l) === ((1L, 0L, 0.0))))
  }

  test("triangleCounts: triangle + pendant; duplicates/reverses/self-loops collapse") {
    // triangle 1-2-3 with pendant 4 on node 1, fed as a messy mix of
    // directions, duplicates, and a self-loop
    val messy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L),
      (1L, 4L), (4L, 4L)).toDF("src", "dst")
    val r = Graph.triangleCounts(messy, "src", "dst")
      .collect().map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    assert(r(1L) === ((3L, 1L, 2.0 * 1 / (3 * 2))))
    assert(r(2L) === ((2L, 1L, 1.0)))
    assert(r(3L) === ((2L, 1L, 1.0)))
    assert(r(4L) === ((1L, 0L, 0.0)), "pendant: deg 1 -> lcc 0.0 by contract")
  }

  test("hits: one-iteration bipartite scores match the hand fold") {
    // 1 -> 3, 2 -> 3, 3 -> 4:
    //   auth_1 = in-sums of hub_0=1: a(3)=2, a(4)=1, a(1)=a(2)=0
    //   hub_1  = out-sums of auth_1: h(1)=h(2)=a(3)=2, h(3)=a(4)=1, h(4)=0
    //   L1:     th=5, ta=3
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val r = Graph.hits(edges, "src", "dst", iters = 1)
      .collect().map(x => x.getLong(0) -> ((x.getDouble(1), x.getDouble(2)))).toMap
    assert(r.keySet === Set(1L, 2L, 3L, 4L), "one row per node incl. zero-score")
    assert(r(1L) === ((0.4, 0.0)) && r(2L) === ((0.4, 0.0)), s"got $r")
    assert(r(3L) === ((0.2, 2.0 / 3)) && r(4L) === ((0.0, 1.0 / 3)), s"got $r")
  }

  test("hits: 2^53 exact-long bound is enforced") {
    // K2,2 both directions: maxIn = maxOut = 2, n = 4 ->
    // log2 bound = 2 + iters*2; iters = 26 -> 54 > 53 -> loud failure
    val e = Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 1L), (3L, 2L), (4L, 1L), (4L, 2L)).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      Graph.hits(e, "src", "dst", iters = 26)
    }
    assert(ex.getMessage.contains("2^"))
    val ok = Graph.hits(e, "src", "dst", iters = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(ok.values.toSet.size === 1, "fully symmetric K2,2: all hubs tie")
  }

  test("labelPropagation: two triangles over a bridge split into two communities") {
    // triangles {1,2,3} and {4,5,6} bridged by 3-4; smallest-label
    // tie-break, 3 synchronous rounds -> labels {1,1,1, 3,3,3}
    // (hand-rolled: l1 = (2,1,1,3,4,4); l2 = (1,1,1,4,3,3); l3 converged)
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val edges = und.toDF("src", "dst") // one direction only: op symmetrizes
    val r = Graph.labelPropagation(edges, "src", "dst", iters = 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L),
      s"got $r")
  }

  test("commonNeighborLinks: cycle diagonals score 2; adjacent pairs never predicted") {
    // square 1-2-3-4-1: the two diagonals are the only non-adjacent
    // pairs, each sharing both its opposite corners
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val r = Graph.commonNeighborLinks(sq, "src", "dst",
      maxCenterDeg = 10, minCommon = 1)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    assert(r === Map((1L, 3L) -> 2L, (2L, 4L) -> 2L), s"got $r")
  }

  test("commonNeighborLinks: hub cap removes hub-certified pairs only") {
    // hub 100 touches 1..5; 1-2 are also directly linked; 3-4 share a
    // second (non-hub) neighbor 6
    val e = (Seq((100L, 1L), (100L, 2L), (100L, 3L), (100L, 4L), (100L, 5L),
      (1L, 2L), (3L, 6L), (4L, 6L))).toDF("src", "dst")
    // uncapped (hub deg 5 <= 10): all non-adjacent spoke pairs predicted
    val un = Graph.commonNeighborLinks(e, "src", "dst",
      maxCenterDeg = 10, minCommon = 1)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    assert(un((3L, 4L)) === 2L, "hub + node 6")
    assert(un((1L, 3L)) === 1L && un((4L, 5L)) === 1L)
    assert(!un.contains((1L, 2L)), "existing edge is never a prediction")
    // cap 4 excludes the hub as a CENTER: pairs certified only by the
    // hub vanish; 3-4 survives via 6, and the hub itself still appears
    // as an ENDPOINT — (6, 100) share the two non-hub centers 3 and 4
    val cap = Graph.commonNeighborLinks(e, "src", "dst",
      maxCenterDeg = 4, minCommon = 1)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    assert(cap === Map((3L, 4L) -> 1L, (6L, 100L) -> 2L), s"got $cap")
    assert(!cap.contains((1L, 3L)) && !cap.contains((4L, 5L)),
      "hub-only-certified pairs are gone under the cap")
  }

  test("pageRankWeighted: uniform weights reproduce pageRank bit-for-bit") {
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val w1 = edges.withColumn("w", lit(1L))
    val a = Graph.pageRank(edges, "src", "dst", iters = 5)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val b = Graph.pageRankWeighted(w1, "src", "dst", "w", iters = 5)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(a === b, "rank*1/deg is the identical IEEE expression")
  }

  test("pageRankWeighted: rank follows the heavy edge") {
    // a sends 3/4 of its mass to b, 1/4 to c; b and c return everything
    val e = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 1L, 1L), (3L, 1L, 1L))
      .toDF("src", "dst", "w")
    val r = Graph.pageRankWeighted(e, "src", "dst", "w", iters = 1)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    // r1(b) = 0.05 + 0.85 * (1/3 * 3/4); r1(c) = 0.05 + 0.85 * (1/3 * 1/4)
    assert(math.abs(r(2L) - (0.05 + 0.85 * 0.25)) < 1e-12, s"got $r")
    assert(math.abs(r(3L) - (0.05 + 0.85 / 12)) < 1e-12, s"got $r")
    assert(r(2L) > r(3L), "the heavier edge carries more endorsement")
    assert(math.abs(r.values.sum - 1.0) < 1e-9, "mass conserved")
  }

  test("copurchaseWeightedEdges: w counts shared baskets; support prefilter holds") {
    val baskets = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L),
      (3L, 10L), (3L, 11L), (3L, 99L)).toDF("basket", "item")
    val e = Graph.copurchaseWeightedEdges(baskets, "basket", "item",
        minItemSupport = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getLong(2)).toMap
    assert(e === Map((10L, 11L) -> 3L, (11L, 10L) -> 3L),
      s"99 is below support; 10-11 share three baskets — got $e")
  }

  test("harmonicCentrality: hop counts and the 1/d fold on a directed path") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("s")
    val r = Graph.harmonicCentrality(path, "src", "dst", seeds, "s", maxHops = 3)
      .collect().map(x => x.getLong(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4)))).toMap
    assert(r === Map(
      2L -> ((1L, 0L, 0L, 1.0)),
      3L -> ((0L, 1L, 0L, 0.5)),
      4L -> ((0L, 0L, 1L, 1.0 / 3))), s"got $r")
    // two seeds: node 3 is 2 hops from seed 1 AND 1 hop from seed 2
    val r2 = Graph.harmonicCentrality(path, "src", "dst",
        Seq(1L, 2L).toDF("s"), "s", maxHops = 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(4)).toMap
    assert(r2(3L) === 1.5 && r2(4L) === 0.5 + 1.0 / 3, s"got $r2")
  }

  test("harmonicCentrality: BFS never revisits — a cycle stops at the reached set") {
    val cyc = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r = Graph.harmonicCentrality(cyc, "src", "dst",
        Seq(1L).toDF("s"), "s", maxHops = 4)
      .collect().map(x => x.getLong(0) -> x.getDouble(5)).toMap
    assert(r === Map(2L -> 1.0), "seed itself is never re-counted")
  }

  test("kCore: pendant peels, triangle survives, chains cascade to empty") {
    // triangle 1-2-3 with pendant 4: the 2-core is exactly the triangle
    val t = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L)).toDF("src", "dst")
    val core = Graph.kCore(t, "src", "dst", k = 2L)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(core === Map(1L -> 2L, 2L -> 2L, 3L -> 2L), s"got $core")
    // a path unravels COMPLETELY under k=2 — each peel exposes new
    // endpoints (the cascade the fixpoint loop must follow to the end)
    val path = (1L to 6L).sliding(2).map(p => (p(0), p(1))).toSeq
      .toDF("src", "dst")
    assert(Graph.kCore(path, "src", "dst", k = 2L).count() === 0L)
    // k=1 keeps every non-isolated node at its full degree
    val k1 = Graph.kCore(t, "src", "dst", k = 1L)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(k1 === Map(1L -> 3L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
  }

  test("kCore: maxRounds bounds the cascade loudly, never half-peeled output") {
    val path = (1L to 8L).sliding(2).map(p => (p(0), p(1))).toSeq
      .toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      Graph.kCore(path, "src", "dst", k = 2L, maxRounds = 1).collect()
    }
    assert(ex.getMessage.contains("maxRounds"))
  }

  test("labelPropagation: deterministic under input order and direction mix") {
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val a = Graph.labelPropagation(und.toDF("src", "dst"), "src", "dst", 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val b = Graph.labelPropagation(
      (und.reverse.map(_.swap) ++ und).toDF("src", "dst"), "src", "dst", 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(a === b, "pure function of the undirected edge set")
  }

  test("resourceAllocationLinks: star wedges score 2^20 div deg(center); hub cap empties them") {
    // star 1—{2,3,4}: center 1 (deg 3) makes each leaf pair a candidate
    // with score 1048576 div 3 = 349525 and common = 1
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val ra = Graph.resourceAllocationLinks(star, "src", "dst",
        maxCenterDeg = 10L, minCommon = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(ra === Map((2L, 3L) -> (349525L, 1L), (2L, 4L) -> (349525L, 1L),
      (3L, 4L) -> (349525L, 1L)))
    // cap below the hub's degree: no wedge centers remain
    assert(Graph.resourceAllocationLinks(star, "src", "dst",
      maxCenterDeg = 2L, minCommon = 1L).count() === 0L)
  }

  test("resourceAllocationLinks: rare shared neighbor outranks a busier one") {
    // pair (10,11) shares low-degree 1 (deg 2); pair (20,21) shares
    // 2 whose degree is inflated to 4 — RA must rank (10,11) higher
    // though both have common = 1
    val e = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L),
      (2L, 30L), (2L, 31L)).toDF("src", "dst")
    val ra = Graph.resourceAllocationLinks(e, "src", "dst",
        maxCenterDeg = 10L, minCommon = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(ra((10L, 11L)) === 1048576L / 2)
    assert(ra((20L, 21L)) === 1048576L / 4)
    assert(ra((10L, 11L)) > ra((20L, 21L)))
  }

  test("degreeAssortativity: star is perfectly disassortative, P4 is -0.5") {
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val rStar = Graph.degreeAssortativity(star, "src", "dst")
      .select("r").collect().head.getDouble(0)
    assert(rStar === -1.0)
    // path 1-2-3-4: by hand m=6, Σx=10, Σxy=16, Σx²=18 →
    // r = (6·16 − 100)/(6·18 − 100) = −4/8
    val p4 = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val row = Graph.degreeAssortativity(p4, "src", "dst").collect().head
    assert(row.getLong(0) === 6L && row.getLong(1) === 10L &&
      row.getLong(2) === 16L && row.getLong(3) === 18L)
    assert(row.getDouble(4) === -0.5)
  }

  test("degreeAssortativity: direction and duplicate edges are canonicalized away") {
    val messy = Seq((2L, 1L), (1L, 2L), (2L, 3L), (3L, 2L), (3L, 4L))
      .toDF("src", "dst")
    val clean = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val a = Graph.degreeAssortativity(messy, "src", "dst").collect().head
    val b = Graph.degreeAssortativity(clean, "src", "dst").collect().head
    assert(a === b)
  }

  test("copurchaseEdgesFromPairStore: basket-disjoint slices reproduce the one-shot edge set exactly") {
    val store = java.nio.file.Files.createTempDirectory("prstore").toString + "/st"
    // 60 baskets x 2-4 items over a 12-item catalog with a support split
    val rows = (1L to 60L).flatMap { bk =>
      Seq((bk, bk % 12), (bk, (bk + 1) % 12)) ++
        (if (bk % 3 == 0) Seq((bk, (bk + 5) % 12)) else Nil)
    }.toDF("basket", "item")
    val oneShot = Graph.copurchaseEdges(rows, "basket", "item",
      minItemSupport = 8)
    (0 until 2).foreach { i =>
      graft.ops.Baskets.pairStoreAppend(
        rows.filter(col("basket") % 2 === i), store, s"b$i")
    }
    val fromStore = Graph.copurchaseEdgesFromPairStore(spark, store,
      minItemSupport = 8)
    assert(fromStore.exceptAll(oneShot).isEmpty &&
      oneShot.exceptAll(fromStore).isEmpty,
      "store-derived edges must equal the one-shot build exactly")
    // redelivered slice no-ops (marker) — edges unchanged
    graft.ops.Baskets.pairStoreAppend(
      rows.filter(col("basket") % 2 === 1), store, "b1")
    val replayed = Graph.copurchaseEdgesFromPairStore(spark, store,
      minItemSupport = 8)
    assert(replayed.exceptAll(oneShot).isEmpty &&
      oneShot.exceptAll(replayed).isEmpty)
    spark.catalog.clearCache()
  }

  test("deterministicWalks: hops are real neighbors, md5-replayable, dead-end truncates") {
    // 1 and 2 have out-edges; 3 is a dead end
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 1L), (2L, 3L))
      .toDF("src", "dst")
    val walks = Graph.deterministicWalks(edges, "src", "dst",
        walkLen = 2, salt = "wt")
      .collect().map(r => r.getAs[Long]("node") -> r).toMap
    assert(walks.keySet === Set(1L, 2L), "one walk per node WITH out-edges")
    val adj = Map(1L -> Seq(2L, 3L), 2L -> Seq(1L, 3L)) // dst-sorted
    def pick(start: Long, t: Int, cur: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$start#$t#${cur}wt".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(7)
      val nbrs = adj(cur)
      nbrs((java.lang.Long.parseLong(hex, 16) % nbrs.size).toInt)
    }
    walks.foreach { case (start, r) =>
      assert(r.getAs[Long]("step_0") === start)
      val s1 = r.getAs[Long]("step_1")
      assert(s1 === pick(start, 1, start), "hop 1 must replay the md5 pick")
      if (adj.contains(s1)) {
        assert(r.getAs[Long]("step_2") === pick(start, 2, s1))
      } else {
        // dead end: the walk truncates with NULL, never fabricates
        assert(r.isNullAt(r.fieldIndex("step_2")))
      }
    }
    // sticky: same (graph, salt) reproduces the identical walk table
    val again = Graph.deterministicWalks(edges, "src", "dst", 2, "wt")
      .collect().map(r => r.getAs[Long]("node") -> r.toSeq).toMap
    assert(walks.view.mapValues(_.toSeq).toMap === again)
    // a new salt is a fresh sample: some hop differs on a graph with
    // genuine choice (salt sweep — at least one of several salts must
    // diverge, else the hash is ignoring its inputs)
    val diverged = Seq("w2", "w3", "w4", "w5").exists { s2 =>
      Graph.deterministicWalks(edges, "src", "dst", 2, s2)
        .collect().map(r => r.getAs[Long]("node") -> r.toSeq).toMap !=
        walks.view.mapValues(_.toSeq).toMap
    }
    assert(diverged, "re-salting must eventually re-draw some hop")
    spark.catalog.clearCache()
  }

  test("walkPairs: windowed positions only, NULL-truncated tails drop out") {
    // hand walk table: (10, 20, 30, NULL) and (40, 50, NULL, NULL)
    val walks = Seq(
      (10L, 10L, Some(20L), Some(30L), Option.empty[Long]),
      (40L, 40L, Some(50L), Option.empty[Long], Option.empty[Long]))
      .toDF("node", "step_0", "step_1", "step_2", "step_3")
    val got = Graph.walkPairs(walks, walkLen = 3, window = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // adjacent ordered pairs from walk 1: (10,20),(20,10),(20,30),(30,20)
    // from walk 2: (40,50),(50,40); nothing pairs with NULL
    assert(got === Map((10L, 20L) -> 1L, (20L, 10L) -> 1L,
      (20L, 30L) -> 1L, (30L, 20L) -> 1L,
      (40L, 50L) -> 1L, (50L, 40L) -> 1L))
    // window=2 adds the distance-2 pairs
    val w2 = Graph.walkPairs(walks, 3, 2).count()
    assert(w2 === 8L, "two extra (10,30)/(30,10) rows at window 2")
  }

  test("deterministicWalks maxDeg: hub hops stay within the dst-sorted cap; " +
      "a cap above the max degree is a no-op") {
    // hub node 1 with 6 neighbors; everything links back to the hub
    val nbrs = (2L to 7L)
    val edges = (nbrs.map(n => (1L, n)) ++ nbrs.map(n => (n, 1L)))
      .toDF("src", "dst")
    val capped = Graph.deterministicWalks(edges, "src", "dst",
        walkLen = 3, salt = "cap", maxDeg = Some(2L))
      .collect()
    // hop choice from the hub draws only from {2, 3} (first 2 by dst)
    capped.foreach { r =>
      (1 to 3).foreach { t =>
        if (!r.isNullAt(r.fieldIndex(s"step_${t - 1}")) &&
            r.getAs[Long](s"step_${t - 1}") == 1L &&
            !r.isNullAt(r.fieldIndex(s"step_$t")))
          assert(Set(2L, 3L).contains(r.getAs[Long](s"step_$t")),
            s"capped hub hop must stay in the first maxDeg neighbors: $r")
      }
    }
    spark.catalog.clearCache()
    // cap above every node's degree: bit-identical to the uncapped run
    val un = Graph.deterministicWalks(edges, "src", "dst", 3, "cap")
      .collect().map(r => r.getAs[Long]("node") -> r.toSeq).toMap
    spark.catalog.clearCache()
    val hi = Graph.deterministicWalks(edges, "src", "dst", 3, "cap",
        maxDeg = Some(100L))
      .collect().map(r => r.getAs[Long]("node") -> r.toSeq).toMap
    assert(un === hi, "a cap above max degree must not change any hop")
    spark.catalog.clearCache()
  }

  test("deterministicWalksWeighted: range picks replay md5 over cumulative " +
      "weights; all-weights-1 is bit-identical to unweighted") {
    // weighted triangle: 1→2 (w=3), 1→3 (w=1), 2→{1,3}, 3→{1,2} all w=1
    val wEdges = Seq((1L, 2L, 3L), (1L, 3L, 1L), (2L, 1L, 1L),
      (2L, 3L, 1L), (3L, 1L, 1L), (3L, 2L, 1L)).toDF("src", "dst", "w")
    val adj = Map( // dst-sorted (dst, w, cum); tot = last cum
      1L -> Seq((2L, 3L, 3L), (3L, 1L, 4L)),
      2L -> Seq((1L, 1L, 1L), (3L, 1L, 2L)),
      3L -> Seq((1L, 1L, 1L), (2L, 1L, 2L)))
    def pick(start: Long, t: Int, cur: Long, salt: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$start#$t#$cur$salt".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(7)
      val tot = adj(cur).last._3
      val r = java.lang.Long.parseLong(hex, 16) % tot
      adj(cur).find { case (_, w, cum) => r >= cum - w && r < cum }.get._1
    }
    val walks = Graph.deterministicWalksWeighted(wEdges, "src", "dst", "w",
        walkLen = 2, salt = "ww")
      .collect().map(r => r.getAs[Long]("node") -> r).toMap
    assert(walks.keySet === Set(1L, 2L, 3L))
    walks.foreach { case (start, r) =>
      val s1 = r.getAs[Long]("step_1")
      assert(s1 === pick(start, 1, start, "ww"), "hop 1 replays the range pick")
      assert(r.getAs[Long]("step_2") === pick(start, 2, s1, "ww"))
    }
    spark.catalog.clearCache()
    // degenerate case: all weights 1 ⇒ unit ranges ⇒ the unweighted picks
    val flat = Seq((1L, 2L), (1L, 3L), (2L, 1L), (2L, 3L), (3L, 1L),
      (3L, 2L)).toDF("src", "dst")
    val w1 = Graph.deterministicWalksWeighted(
        flat.withColumn("w", org.apache.spark.sql.functions.lit(1L)),
        "src", "dst", "w", walkLen = 3, salt = "eq")
      .collect().map(r => r.getAs[Long]("node") -> r.toSeq).toMap
    spark.catalog.clearCache()
    val uw = Graph.deterministicWalks(flat, "src", "dst", 3, "eq")
      .collect().map(r => r.getAs[Long]("node") -> r.toSeq).toMap
    assert(w1 === uw, "all-weights-1 must be bit-identical to unweighted")
    spark.catalog.clearCache()
    // parallel (src,dst) duplicates merge additively: splitting the w=3
    // edge into 3 unit rows is the same graph
    val split = Seq((1L, 2L, 1L), (1L, 2L, 1L), (1L, 2L, 1L), (1L, 3L, 1L),
      (2L, 1L, 1L), (2L, 3L, 1L), (3L, 1L, 1L), (3L, 2L, 1L))
      .toDF("src", "dst", "w")
    val merged = Graph.deterministicWalksWeighted(split, "src", "dst", "w",
        walkLen = 2, salt = "ww")
      .collect().map(r => r.getAs[Long]("node") -> r.toSeq).toMap
    assert(merged === walks.view.mapValues(_.toSeq).toMap,
      "parallel duplicates must merge additively before indexing")
    spark.catalog.clearCache()
    // weights below 1 die loudly (the axisGuard convention)
    val bad = intercept[Exception] {
      Graph.deterministicWalksWeighted(
        Seq((1L, 2L, 0L), (2L, 1L, 1L)).toDF("src", "dst", "w"),
        "src", "dst", "w", walkLen = 1, salt = "x").collect()
    }
    assert(bad.getMessage != null)
    spark.catalog.clearCache()
  }

  test("deterministicWalksNode2vec: p/q biases replay over cumulative ranges; " +
      "p=q=1 is bit-identical to first-order") {
    // square 1-2-4-3-1 plus the 1-2-3 triangle: from c with prev b the
    // neighbor classes (return / triangle / explore) are all exercised
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val adj = Map(1L -> Seq(2L, 3L), 2L -> Seq(1L, 3L, 4L),
      3L -> Seq(1L, 2L, 4L), 4L -> Seq(2L, 3L))
    val nbr = adj // undirected: N(b) = adj(b)
    val (pN, pD, qN, qD) = (4L, 1L, 1L, 4L) // p=4, q=1/4 — explore-heavy
    def h(start: Long, t: Int, cur: Long, salt: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$start#$t#$cur$salt".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(7)
      java.lang.Long.parseLong(hex, 16)
    }
    def replay(start: Long, len: Int, salt: String): Seq[Long] = {
      var path = Seq(start)
      (1 to len).foreach { t =>
        val c = path.last
        val x =
          if (t == 1) adj(c)((h(start, 1, c, salt) % adj(c).size).toInt)
          else {
            val b = path(path.size - 2)
            val wts = adj(c).map { n =>
              if (n == b) pD * qN
              else if (nbr(b).contains(n)) pN * qN
              else pN * qD
            }
            val tot = wts.sum
            val r = h(start, t, c, salt) % tot
            val cums = wts.scanLeft(0L)(_ + _).tail
            adj(c)(cums.indexWhere(r < _))
          }
        path = path :+ x
      }
      path
    }
    val got = Graph.deterministicWalksNode2vec(edges, "src", "dst",
        walkLen = 3, salt = "n2v", pNum = pN, pDen = pD, qNum = qN, qDen = qD)
      .collect().map(r => r.getAs[Long]("node") ->
        (0 to 3).map(i => r.getAs[Long](s"step_$i"))).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L))
    got.foreach { case (start, path) =>
      assert(path === replay(start, 3, "n2v"),
        s"walk from $start must replay the biased range picks")
    }
    spark.catalog.clearCache()
    // degenerate: p = q = 1 collapses every bias to 1 ⇒ bit-identical
    // to the first-order walk on the same salt
    val flatN2v = Graph.deterministicWalksNode2vec(edges, "src", "dst",
        3, "eqn", 1L, 1L, 1L, 1L)
      .collect().map(r => r.getAs[Long]("node") -> r.toSeq).toMap
    spark.catalog.clearCache()
    val firstOrder = Graph.deterministicWalks(edges, "src", "dst", 3, "eqn")
      .collect().map(r => r.getAs[Long]("node") -> r.toSeq).toMap
    assert(flatN2v === firstOrder,
      "p=q=1 must be bit-identical to the first-order walk")
    spark.catalog.clearCache()
    // dead ends truncate with NULLs (directed chain 1→2→3, 3 dead)
    val chain = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val trunc = Graph.deterministicWalksNode2vec(chain, "src", "dst",
        3, "tr", 2L, 1L, 1L, 2L).collect()
      .map(r => r.getAs[Long]("node") -> r).toMap
    val w1 = trunc(1L)
    assert(w1.getAs[Long]("step_1") === 2L &&
      w1.getAs[Long]("step_2") === 3L && w1.isNullAt(w1.fieldIndex("step_3")),
      "a dead end must truncate the second-order walk with NULLs")
    spark.catalog.clearCache()
  }

  test("betweennessSeeded: diamond-with-tail hand values, truncation, " +
      "multi-seed additivity") {
    // diamond 1→{2,3}→4 plus tail 4→5: σ(1,4)=σ(1,5)=2.
    // Brandes from seed 1: δ(4)=σ4/σ5·(1+0)=1; δ(2)=σ2/σ4·(1+δ4)=1;
    // δ(3)=1; b = {2→1, 3→1, 4→1, 5→0}.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val seeds1 = Seq(1L).toDF("s")
    val got = Graph.betweennessSeeded(edges, "src", "dst", seeds1, "s",
        maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got === Map(2L -> 1.0, 3L -> 1.0, 4L -> 1.0, 5L -> 0.0),
      s"hand Brandes values must match exactly: $got")
    spark.catalog.clearCache()
    // truncation: maxHops=2 cuts the tail — 4 becomes a leaf (δ=0),
    // 2 and 3 each carry only the 4-dependency: δ = 1/2·(1+0) = 0.5
    val t2 = Graph.betweennessSeeded(edges, "src", "dst", seeds1, "s", 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(t2 === Map(2L -> 0.5, 3L -> 0.5, 4L -> 0.0),
      s"truncated dependencies must stop at the horizon: $t2")
    spark.catalog.clearCache()
    // multi-seed additivity: seed 2 contributes δ(4) = 1 (path 2→4→5),
    // δ(5) = 0; totals are the per-seed sums
    val both = Graph.betweennessSeeded(edges, "src", "dst",
        Seq(1L, 2L).toDF("s"), "s", 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(both(4L) === 2.0 && both(2L) === 1.0 && both(3L) === 1.0,
      s"dependencies must add across seeds: $both")
    spark.catalog.clearCache()
    // a seed with no out-edges is dropped (the harmonic seed contract)
    val leafSeed = Graph.betweennessSeeded(edges, "src", "dst",
        Seq(5L).toDF("s"), "s", 3)
    assert(leafSeed.count() === 0L)
    spark.catalog.clearCache()
  }

  test("deterministicWalksNode2vecWeighted: the four walk generators " +
      "form a commuting square") {
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    val flat = (und ++ und.map(_.swap)).toDF("src", "dst")
    val w3 = (und ++ und.map(_.swap))
      .map { case (a, b) => (a, b, if (a.min(b) == 1L) 3L else 1L) }
      .toDF("src", "dst", "w")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("node") -> r.toSeq).toMap
    // p = q = 1: weighted second-order ≡ weighted first-order
    val a = m(Graph.deterministicWalksNode2vecWeighted(w3, "src", "dst",
      "w", 3, "sq", 1L, 1L, 1L, 1L))
    spark.catalog.clearCache()
    val b = m(Graph.deterministicWalksWeighted(w3, "src", "dst", "w",
      3, "sq"))
    spark.catalog.clearCache()
    assert(a === b, "p=q=1 must reduce to the weighted first-order walk")
    // all weights 1: weighted second-order ≡ unweighted second-order
    val c = m(Graph.deterministicWalksNode2vecWeighted(
      flat.withColumn("w", org.apache.spark.sql.functions.lit(1L)),
      "src", "dst", "w", 3, "sq", 4L, 1L, 1L, 4L))
    spark.catalog.clearCache()
    val d = m(Graph.deterministicWalksNode2vec(flat, "src", "dst",
      3, "sq", 4L, 1L, 1L, 4L))
    spark.catalog.clearCache()
    assert(c === d, "unit weights must reduce to the unweighted " +
      "second-order walk")
    // and the genuinely-biased weighted walk differs from both
    val full = m(Graph.deterministicWalksNode2vecWeighted(w3, "src", "dst",
      "w", 3, "sq", 4L, 1L, 1L, 4L))
    assert(full.nonEmpty && (full != c || full != a))
    spark.catalog.clearCache()
  }

  test("negativeSamples: draws replay the smoothed-unigram range pick; " +
      "bucket count is an implementation detail") {
    val pairs = Seq((1L, 10L, 3L), (2L, 10L, 1L), (1L, 20L, 1L),
      (3L, 30L, 2L)).toDF("center", "context", "cnt")
    // hand table: f(10)=4, f(20)=1, f(30)=2; wl = floor(f/√√f · 1024)
    def wl(f: Long): Long =
      math.floor(f.toDouble / math.sqrt(math.sqrt(f.toDouble)) * 1024.0)
        .toLong
    val vocab = Seq(10L, 20L, 30L)
    val fs = Map(10L -> 4L, 20L -> 1L, 30L -> 2L)
    val cums = vocab.scanLeft(0L)((acc, n) => acc + wl(fs(n))).tail
    val tot = cums.last
    def neg(c: Long, x: Long, j: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$c#$x#$j#ng".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(7)
      val r = java.lang.Long.parseLong(hex, 16) % tot
      vocab(cums.indexWhere(r < _))
    }
    val got = Graph.negativeSamples(pairs, "center", "context", "cnt",
        numNeg = 2, salt = "ng")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)) -> r.getLong(3))
      .toMap
    assert(got.size === 8, "one row per (pair, draw)")
    got.foreach { case ((c, x, j), n) =>
      assert(n === neg(c, x, j), s"draw ($c, $x, $j) must replay the pick")
    }
    // bucketing is an implementation detail: any nBuckets gives the
    // identical sample table
    val one = Graph.negativeSamples(pairs, "center", "context", "cnt",
        2, "ng", nBuckets = 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)) -> r.getLong(3))
      .toMap
    assert(one === got, "nBuckets must not change any draw")
    spark.catalog.clearCache()
  }

  test("precondition flags: flagged ≡ unflagged on symmetric-distinct input") {
    // r16 optimization contract: when the input already holds both
    // directions of every undirected edge exactly once (no self loops,
    // no duplicates — copurchaseEdges' construction guarantee), the
    // edgesDistinct / symmetricDistinct fast paths must be value-
    // IDENTICAL to the generic paths they shortcut.
    val undirected = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (3L, 5L), (5L, 6L))
    val e = undirected.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    assert(rows(Graph.pageRank(e, "src", "dst", 3, edgesDistinct = true))
      === rows(Graph.pageRank(e, "src", "dst", 3)), "pageRank")
    assert(rows(Graph.katzCentrality(e, "src", "dst", 3,
        edgesDistinct = true))
      === rows(Graph.katzCentrality(e, "src", "dst", 3)), "katz")
    assert(rows(Graph.hits(e, "src", "dst", 2, edgesDistinct = true))
      === rows(Graph.hits(e, "src", "dst", 2)), "hits")
    assert(rows(Graph.labelPropagation(e, "src", "dst", 3,
        symmetricDistinct = true))
      === rows(Graph.labelPropagation(e, "src", "dst", 3)), "lpa")
    assert(rows(Graph.kCore(e, "src", "dst", 2, symmetricDistinct = true))
      === rows(Graph.kCore(e, "src", "dst", 2)), "kCore")
    assert(rows(Graph.triangleCounts(e, "src", "dst",
        symmetricDistinct = true))
      === rows(Graph.triangleCounts(e, "src", "dst")), "triangles")
    assert(rows(Graph.commonNeighborLinks(e, "src", "dst", 10, 1,
        symmetricDistinct = true))
      === rows(Graph.commonNeighborLinks(e, "src", "dst", 10, 1)), "cnl")
    assert(rows(Graph.resourceAllocationLinks(e, "src", "dst", 10, 1,
        symmetricDistinct = true))
      === rows(Graph.resourceAllocationLinks(e, "src", "dst", 10, 1)), "ra")
    assert(rows(Graph.degreeAssortativity(e, "src", "dst",
        symmetricDistinct = true))
      === rows(Graph.degreeAssortativity(e, "src", "dst")), "assortativity")
    val seeds = Seq(1L, 4L).toDF("node")
    assert(rows(Graph.harmonicCentrality(e, "src", "dst", seeds, "node", 3,
        edgesDistinct = true))
      === rows(Graph.harmonicCentrality(e, "src", "dst", seeds, "node", 3)),
      "harmonic")
    assert(rows(Graph.betweennessSeeded(e, "src", "dst", seeds, "node", 3,
        edgesDistinct = true))
      === rows(Graph.betweennessSeeded(e, "src", "dst", seeds, "node", 3)),
      "betweenness")
    assert(rows(Graph.personalizedPageRank(e, "src", "dst", seeds, "node", 3,
        edgesDistinct = true))
      === rows(Graph.personalizedPageRank(e, "src", "dst", seeds, "node", 3)),
      "ppr")
    spark.catalog.clearCache()
  }

  test("iterative loops release only their own round checkpoints, never the caller's input") {
    // A caller's localCheckpoint'ed edge frame must stay readable after
    // every loop returns. A round-0 state's lineage reaches into that
    // input, so a per-round release that looked past the analyzed plan's
    // root would drop the input's blocks (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
    // on the recount).
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    val seeds = Seq(1L, 3L).toDF("s")
    val loops: Seq[(String, org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame)] = Seq(
      "pageRank" -> (Graph.pageRank(_, "src", "dst", 3)),
      "pageRank dangling" -> (Graph.pageRank(_, "src", "dst", 3, dangling = true)),
      "personalizedPageRank" ->
        (Graph.personalizedPageRank(_, "src", "dst", seeds, "s", 3)),
      "katzCentrality" -> (Graph.katzCentrality(_, "src", "dst", 3)),
      "hits" -> (Graph.hits(_, "src", "dst", 3)),
      "labelPropagation" -> (Graph.labelPropagation(_, "src", "dst", 3)),
      "pageRankWeighted" -> (Graph.pageRankWeighted(_, "src", "dst", "w", 3)),
      "kCore" -> (Graph.kCore(_, "src", "dst", 2L)),
      "harmonicCentrality" ->
        (Graph.harmonicCentrality(_, "src", "dst", seeds, "s", 3)),
      "betweennessSeeded" ->
        (Graph.betweennessSeeded(_, "src", "dst", seeds, "s", 3)),
      "deterministicWalksNode2vec" ->
        (Graph.deterministicWalksNode2vec(_, "src", "dst", 3, "r", 1, 1, 1, 1)),
      "deterministicWalksNode2vecWeighted" ->
        (Graph.deterministicWalksNode2vecWeighted(_, "src", "dst", "w", 3, "r",
          1, 1, 1, 1)))
    val broken = loops.flatMap { case (name, run) =>
      val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
        .withColumn("w", lit(1L)).localCheckpoint(true)
      run(edges).collect()
      val recount = scala.util.Try(edges.count())
      if (recount.toOption.contains(8L)) None
      else Some(s"$name (${recount.fold(_.getMessage.takeWhile(_ != '!'), n => s"$n rows")})")
    }
    assert(broken.isEmpty,
      s"loops that dropped the caller's checkpointed edges: ${broken.mkString("; ")}")
    spark.catalog.clearCache()
  }

  test("katz and hits leave only the round state their result reads persisted, like pageRank") {
    // A loop's round-0 state is a persisted frame, not a checkpoint, so
    // releaseCheckpoint cannot free it: the loop must unpersist it once
    // round 1 is materialized. What a call may leave behind is the final
    // checkpoint(s) its result reads (caller-owned): one state frame,
    // two for hits (hub and auth); katz at iters = 1 returns its
    // round-0 state itself. The cache starts empty, so no earlier frame
    // of the same plan can stand in for one a call persists.
    spark.catalog.clearCache()
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    val e = (und ++ und.map(_.swap)).toDF("src", "dst")
    def added(run: => org.apache.spark.sql.DataFrame): Int = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      run.collect()
      (spark.sparkContext.getPersistentRDDs.keySet -- before).size
    }
    val got = Seq(
      "pageRank" -> added(Graph.pageRank(e, "src", "dst", 3)),
      "labelPropagation" -> added(Graph.labelPropagation(e, "src", "dst", 3)),
      "katzCentrality" -> added(Graph.katzCentrality(e, "src", "dst", 3)),
      "katzCentrality iters=1" -> added(Graph.katzCentrality(e, "src", "dst", 1)),
      "hits" -> added(Graph.hits(e, "src", "dst", 3)))
    assert(got === Seq("pageRank" -> 1, "labelPropagation" -> 1,
      "katzCentrality" -> 1, "katzCentrality iters=1" -> 1, "hits" -> 2))
    spark.catalog.clearCache()
  }

  private def withStateRowsGate[A](gate: String)(body: => A): A = {
    spark.conf.set("spark.graft.broadcastStateRows", gate)
    try body finally spark.conf.unset("spark.graft.broadcastStateRows")
  }

  private def broadcastHinted(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.find {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint =>
        h.hints.strategy.contains(org.apache.spark.sql.catalyst.plans.logical.BROADCAST)
      case _ => false
    }.isDefined

  test("bcastIfSmall: a gate <= 0 never broadcasts, not even an empty state") {
    val state = spark.range(3).toDF("node")
    assert(broadcastHinted(Graph.bcastIfSmall(state, 3L)), "default gate broadcasts 3 rows")
    Seq("0", "-1").foreach { gate =>
      withStateRowsGate(gate) {
        assert(!broadcastHinted(Graph.bcastIfSmall(state, 0L)), s"gate $gate, 0 rows")
        assert(!broadcastHinted(Graph.bcastIfSmall(state, 3L)), s"gate $gate, 3 rows")
      }
    }
    withStateRowsGate("3")(assert(broadcastHinted(Graph.bcastIfSmall(state, 3L))))
  }

  test("bcastIfSmall: a malformed spark.graft.broadcastStateRows fails naming the setting") {
    val state = spark.range(3).toDF("node")
    val e = intercept[IllegalArgumentException] {
      withStateRowsGate("4M")(Graph.bcastIfSmall(state, 3L))
    }
    assert(e.getMessage.contains("spark.graft.broadcastStateRows") && e.getMessage.contains("4M"))
  }
}
