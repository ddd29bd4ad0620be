package graft

/** Dataset profiling: the TANE-g3 FD measure and the column card. */
class ProfileSpec extends SparkTestBase {
  import spark.implicits._
  import graft.ops.Profile

  test("fdProfile: g3 counts minimum row removals; exact FD scores conf 1.0") {
    // det 'a': x,x,y -> keep the modal 2, remove 1; det 'b': exact
    val df = Seq(("a", "x"), ("a", "x"), ("a", "y"), ("b", "z"))
      .toDF("d", "p")
    val r = Profile.fdProfile(df, Seq(("d", "p"))).collect().head
    assert(r.getAs[Long]("n_rows") === 4L)
    assert(r.getAs[Long]("n_groups") === 2L)
    assert(r.getAs[Long]("violations") === 1L)
    assert(r.getAs[Double]("conf") === 0.75)
    // id column determines everything exactly
    val ids = Seq((1, "x"), (2, "x"), (3, "y")).toDF("id", "p")
    val ex = Profile.fdProfile(ids, Seq(("id", "p"))).collect().head
    assert(ex.getAs[Long]("violations") === 0L &&
      ex.getAs[Double]("conf") === 1.0)
  }

  test("fdProfile: NULL determinant is one group (the flood the profile must surface)") {
    val df = Seq((null, "x"), (null, "y"), (null, "y"), ("k", "z"))
      .toDF("d", "p")
    val r = Profile.fdProfile(df, Seq(("d", "p"))).collect().head
    assert(r.getAs[Long]("n_groups") === 2L)
    assert(r.getAs[Long]("violations") === 1L, "null group keeps modal y=2")
  }

  test("columnCard: counts, bounds, modal vote with null exclusion and ties") {
    val df = Seq(
      Some("b"), Some("b"), Some("a"), Some("c"), None
    ).toDF("x")
    val r = Profile.columnCard(df, Seq("x")).collect().head
    assert(r.getAs[Long]("n_rows") === 5L)
    assert(r.getAs[Long]("n_null") === 1L)
    assert(r.getAs[Long]("n_distinct") === 3L)
    assert(r.getAs[String]("min_v") === "a" && r.getAs[String]("max_v") === "c")
    assert(r.getAs[String]("top_v") === "b" && r.getAs[Long]("top_n") === 2L)
  }

  test("columnCard: modal tie breaks to the smaller value; all-null column yields NULL stats") {
    val tie = Seq("z", "y").toDF("x")
    val t = Profile.columnCard(tie, Seq("x")).collect().head
    assert(t.getAs[String]("top_v") === "y" && t.getAs[Long]("top_n") === 1L)
    val nulls = Seq[Option[String]](None, None).toDF("x")
    val n = Profile.columnCard(nulls, Seq("x")).collect().head
    assert(n.getAs[Long]("n_null") === 2L && n.getAs[Long]("n_distinct") === 0L)
    assert(n.getAs[String]("top_v") == null && n.getAs[String]("min_v") == null)
  }

  test("columnCard: multiple columns in one card, order preserved per input") {
    val df = Seq((1, "u"), (2, "u")).toDF("a", "b")
    val m = Profile.columnCard(df, Seq("a", "b")).collect()
      .map(r => r.getAs[String]("column") ->
        (r.getAs[Long]("n_distinct"), r.getAs[String]("top_v"))).toMap
    assert(m("a") === ((2L, "1")) && m("b") === ((1L, "u")))
  }

  test("fdProfile: composite determinant via expression finds the key a single column misses") {
    // (a) alone does not determine p; (a, b) does
    val df = Seq(("x", 1, "p"), ("x", 2, "q"), ("x", 2, "q"), ("y", 1, "r"))
      .toDF("a", "b", "p")
    val single = Profile.fdProfile(df, Seq(("a", "p"))).collect().head
    assert(single.getAs[Long]("violations") === 1L)
    val composite = Profile.fdProfile(
      df, Seq(("concat_ws('|', a, b)", "p"))).collect().head
    assert(composite.getAs[Long]("violations") === 0L &&
      composite.getAs[Double]("conf") === 1.0)
    assert(composite.getAs[Long]("n_groups") === 3L)
  }

  test("fd store: slice-merged profile equals one-shot; redelivered batch no-ops") {
    val store = java.nio.file.Files.createTempDirectory("fd").toString + "/st"
    val df = Seq(("a", "x"), ("a", "x"), ("a", "y"), ("b", "z"), ("b", "z"))
      .toDF("d", "p")
    Profile.fdStoreAppend(df.limit(3), store, "b0", "d", "p")
    Profile.fdStoreAppend(df.offset(3), store, "b1", "d", "p")
    Profile.fdStoreAppend(df.offset(3), store, "b1", "d", "p") // redelivery
    val merged = Profile.fdFromStore(spark, store, "d", "p").collect().head
    val oneShot = Profile.fdProfile(df, Seq(("d", "p"))).collect().head
    assert(merged === oneShot,
      "g3 must be a pure function of the sum-merged pair counts")
  }

  test("fd streaming twin: confidence erodes batch over batch as violations arrive") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val store = java.nio.file.Files.createTempDirectory("fds").toString + "/st"
    val mem = MemoryStream[(String, String)]
    val confs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val q = graft.streaming.StoreLoop.writer(mem.toDF().toDF("d", "p"))(
        Profile.fdStoreAppend(_, store, _, "d", "p")) { (_, _) =>
        confs += Profile.fdFromStore(spark, store, "d", "p")
          .collect().head.getAs[Double]("conf")
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("fds_ck").toString)
      .start()
    try {
      mem.addData(Seq(("k1", "v"), ("k2", "v"))); q.processAllAvailable()
      mem.addData(Seq(("k1", "OTHER"), ("k1", "OTHER"),
        ("k1", "OTHER"), ("k1", "OTHER"))); q.processAllAvailable()
    } finally q.stop()
    assert(confs.head === 1.0, "batch 0 alone: exact dependency")
    assert(confs(1) < 1.0 && confs(1) === 1.0 - 1.0 / 6.0,
      s"k1 keeps modal OTHER=4 of 5, one violation over 6 rows: $confs")
  }

  test("snapshotDiff: added/removed/common/changed with null-aware field compare") {
    // key 1: unchanged; key 2: name changes; key 3: removed;
    // key 4: added; key 5: null->null unchanged, null->value changed
    val a = Seq((1L, Some("x"), Some("p")), (2L, Some("y"), Some("q")),
      (3L, Some("z"), Some("r")), (5L, None: Option[String], None: Option[String]))
      .toDF("id", "name", "seg")
    val b = Seq((1L, Some("x"), Some("p")), (2L, Some("Y"), Some("q")),
      (4L, Some("w"), Some("s")), (5L, None: Option[String], Some("v")))
      .toDF("id", "name", "seg")
    val m = Profile.snapshotDiff(a, b, "id", Seq("name", "seg"))
      .collect().map(r => r.getAs[String]("field") ->
        ((r.getAs[Long]("n_added"), r.getAs[Long]("n_removed"),
          r.getAs[Long]("n_common"), r.getAs[Long]("n_changed")))).toMap
    assert(m("name") === ((1L, 1L, 3L, 1L)),
      "key 2's y->Y is the only name change; null->null is not a change")
    assert(m("seg") === ((1L, 1L, 3L, 1L)),
      "key 5's null->v is a change (null-aware compare)")
  }

  test("tableStats: rows/nulls exact; sketch NDV within published error at high cardinality") {
    val df = ((1 to 5000).map(i => (Some(s"u$i"), s"k${i % 7}")) :+
      ((None: Option[String], "k0"))).toDF("uid", "flag")
    val m = Profile.tableStats(df, Seq("uid", "flag"))
      .collect().map(r => r.getAs[String]("column") ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("n_null"),
          r.getAs[Long]("ndv_exact"), r.getAs[Double]("ndv_est")))).toMap
    val (nr, nn, ne, est) = m("uid")
    assert(nr === 5001L && nn === 1L && ne === 5000L)
    assert(math.abs(est - 5000.0) / 5000.0 < 0.20,
      s"high-cardinality sketch NDV out of band: $est")
    // low-cardinality columns are columnCard territory (small-range
    // bias documented on Hll) — the exact witness still grades here
    assert(m("flag")._3 === 7L)
  }

  test("snapshotDiff: identical snapshots diff to all zeros") {
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val r = Profile.snapshotDiff(a, a, "id", Seq("v")).collect().head
    assert(r.getAs[Long]("n_added") === 0L &&
      r.getAs[Long]("n_removed") === 0L &&
      r.getAs[Long]("n_common") === 2L && r.getAs[Long]("n_changed") === 0L)
  }

  test("giniConcentration: even split -> 0, single dominator -> (n-1)/n, exact integers") {
    import spark.implicits._
    val even = Seq(("a", 50L), ("b", 50L), ("c", 50L), ("d", 50L))
      .toDF("g", "m")
    val g0 = graft.ops.Profile.giniConcentration(even, "g", "m").collect().head
    assert(g0.getAs[Long]("gini_num") === 0L && g0.getAs[Double]("gini") === 0.0)
    val dom = Seq(("a", 0L), ("b", 0L), ("c", 0L), ("d", 100L)).toDF("g", "m")
    val g1 = graft.ops.Profile.giniConcentration(dom, "g", "m").collect().head
    // G = (2*4*100 - 5*100) / (4*100) = 300/400 = (n-1)/n
    assert(g1.getAs[Long]("gini_num") === 300L &&
      g1.getAs[Long]("gini_den") === 400L)
    assert(g1.getAs[Double]("gini") === 0.75)
    // equal masses rank by the group tiebreak — result invariant anyway
    val tie = Seq(("z", 10L), ("a", 10L), ("m", 30L)).toDF("g", "m")
    val g2 = graft.ops.Profile.giniConcentration(tie, "g", "m").collect().head
    // sorted (a10,z10,m30): six = 10+20+90 = 120; num = 240 - 4*50 = 40; den = 150
    assert(g2.getAs[Long]("gini_num") === 40L && g2.getAs[Long]("gini_den") === 150L)
  }
}
