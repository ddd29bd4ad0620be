package graft

import org.apache.spark.sql.{DataFrame, Encoders}
import graft.sink.{AggDeltaSink, ColumnSpec, TableSpec, JdbcDeltaSink, UnionDeltaSink}

/** JDBC delta-sink round-trip against in-memory Derby, mirroring the
  * reference's SQLite sink test (sqlite.rs:272-321, FIXTURES.md §4):
  * TestRecord (a text, b bigint), mult-2 insert → bag duplicates,
  * retraction → delete-then-reinsert, offsets in the same transaction,
  * idempotent batch redelivery. */
class SinkSpec extends SparkTestBase {

  private def newSink(db: String, version: Int = 1) = new JdbcDeltaSink(
    s"jdbc:derby:memory:$db;create=true",
    TableSpec("test_record", version, Seq(
      ColumnSpec("a", "VARCHAR(64)", index = true),
      ColumnSpec("b", "BIGINT"))))

  test("bag semantics: mult 2 inserts two rows; retraction deletes down to one") {
    val sink = newSink("bag")
    sink.bootstrap()
    // reference fixture: ("aa",12) at mult 2 + three singles
    sink.applyDeltas(Map("src1" -> 41L), batchId = 0L, Seq(
      (Seq("aa", 12L), 2L), (Seq("bb", 14L), 1L),
      (Seq("cc", 22L), 1L), (Seq("dd", 11L), 1L)))
    val rows = sink.readRows().map(r => (r(0), r(1)))
    assert(rows.count(_ == (("aa", 12L))) === 2, "mult 2 → two identical rows")
    assert(rows.size === 5)
    assert(sink.getOffsets() === Map("src1" -> 41L))

    // retraction of one copy (sqlite.rs:296-319)
    sink.applyDeltas(Map("src1" -> 42L), batchId = 1L, Seq((Seq("aa", 12L), -1L)))
    val rows2 = sink.readRows().map(r => (r(0), r(1)))
    assert(rows2.count(_ == (("aa", 12L))) === 1)
    assert(rows2.size === 4)
    assert(sink.getOffsets() === Map("src1" -> 42L))
  }

  test("NULL-safe delete matches NULL values (sqlite.rs:172-174)") {
    val sink = newSink("nulls")
    sink.bootstrap()
    sink.applyDeltas(Map.empty, 0L, Seq((Seq(null, 7L), 1L), (Seq("x", 7L), 1L)))
    sink.applyDeltas(Map.empty, 1L, Seq((Seq(null, 7L), -1L)))
    val rows = sink.readRows().map(r => (r(0), r(1)))
    assert(rows === Seq(("x", 7L)))
  }

  test("idempotence: redelivered batchId is a no-op (exactly-once)") {
    val sink = newSink("idem")
    sink.bootstrap()
    assert(sink.applyDeltas(Map("s" -> 1L), 0L, Seq((Seq("aa", 1L), 1L))))
    assert(!sink.applyDeltas(Map("s" -> 9L), 0L, Seq((Seq("aa", 1L), 1L))),
      "same batchId must be skipped")
    assert(sink.readRows().size === 1)
    assert(sink.getOffsets() === Map("s" -> 1L), "skipped batch must not move offsets")
  }

  test("over-retraction throws and rolls back the whole transaction") {
    val sink = newSink("rollback")
    sink.bootstrap()
    sink.applyDeltas(Map("s" -> 1L), 0L, Seq((Seq("aa", 1L), 1L)))
    intercept[IllegalStateException] {
      sink.applyDeltas(Map("s" -> 2L), 1L, Seq(
        (Seq("bb", 2L), 1L), (Seq("aa", 1L), -5L)))
    }
    assert(sink.readRows().size === 1, "partial batch must roll back")
    assert(sink.getOffsets() === Map("s" -> 1L), "offsets must roll back too")
  }

  test("schema version bump drops and rebuilds (db/mod.rs:46-53)") {
    val v1 = newSink("vers", version = 1)
    v1.bootstrap()
    v1.applyDeltas(Map("s" -> 5L), 0L, Seq((Seq("aa", 1L), 1L)))
    val v1again = newSink("vers", version = 1)
    assert(!v1again.bootstrap(), "same version: keep data")
    assert(v1again.readRows().size === 1)
    val v2 = newSink("vers", version = 2)
    assert(v2.bootstrap(), "version bump: rebuild")
    assert(v2.readRows().isEmpty && v2.getOffsets().isEmpty)
  }

  test("foreachBatch writer consolidates the micro-batch before applying") {
    import spark.implicits._
    val sink = newSink("febatch")
    sink.bootstrap()
    val df = Seq(("aa", 12L, 1L), ("aa", 12L, 1L), ("bb", 14L, 1L), ("bb", 14L, -1L))
      .toDF("a", "b", "mult")
    sink.foreachBatchWriter()(df, 0L)
    val rows = sink.readRows().map(r => (r(0), r(1)))
    assert(rows.sortBy(_.toString) === Seq(("aa", 12L), ("aa", 12L)),
      "bb nets to zero; aa consolidates to mult 2")
  }

  test("each foreachBatch writer runs its micro-batch plan once per call") {
    import spark.implicits._
    // counts every input row the writer's Spark jobs compute; a writer
    // that re-runs the batch plan counts each row more than once
    val seen = spark.sparkContext.longAccumulator("sink_input_rows")
    def counted(df: DataFrame): DataFrame = {
      seen.reset()
      df.map { r => seen.add(1); r }(Encoders.row(df.schema))
    }
    val url = "jdbc:derby:memory:onceper;create=true"

    val raw = newSink("onceper_raw")
    raw.bootstrap()
    raw.foreachBatchWriter()(counted(Seq(("aa", 1L, 1L, "s", 3L), ("bb", 2L, 1L, "s", 4L))
      .toDF("a", "b", "mult", "_source", "_offset")), 0L)
    assert(seen.value === 2L, "JdbcDeltaSink writer: one pass over 2 rows")
    assert(raw.readRows().size === 2 && raw.getOffsets() === Map("s" -> 4L))

    def rollup(name: String) = new AggDeltaSink(url, name, 1,
      keys = Seq(ColumnSpec("m", "VARCHAR(32)")), sums = Seq(ColumnSpec("total", "BIGINT")))
    val agg = rollup("once_rollup")
    agg.bootstrap()
    agg.foreachBatchWriter()(counted(Seq(("m1", 5L, 1L, "s", 1L), ("m1", 7L, 1L, "s", 2L),
      ("m2", 1L, 1L, "s", 3L)).toDF("m", "total", "mult", "_source", "_offset")), 0L)
    assert(seen.value === 3L, "AggDeltaSink writer: one pass over 3 rows")
    assert(agg.readRows().size === 2 && agg.getOffsets() === Map("s" -> 3L))

    // two raw members and one aggregate member share one pass
    val t1 = TableSpec("once_a", 1, Seq(ColumnSpec("m", "VARCHAR(32)"), ColumnSpec("n", "BIGINT")))
    val t2 = TableSpec("once_b", 1, Seq(ColumnSpec("m", "VARCHAR(32)"), ColumnSpec("d", "BIGINT")))
    val union = new UnionDeltaSink(url, "onceg", Seq(t1, t2),
      aggMembers = Seq(rollup("once_urollup")))
    union.bootstrap()
    val tagged = Seq[(String, String, Option[Long], Option[Long], Option[Long], Long, String, Long)](
      ("once_a", "m1", Some(1L), None, None, 1L, "s", 5L),
      ("once_b", "m1", None, Some(9L), None, 1L, "s", 6L),
      ("once_urollup", "m1", None, None, Some(4L), 1L, "s", 7L),
      ("once_urollup", "m2", None, None, Some(2L), 1L, "s", 8L))
      .toDF("_table", "m", "n", "d", "total", "mult", "_source", "_offset")
    union.foreachBatchWriter()(counted(tagged), 0L)
    assert(seen.value === 4L, "UnionDeltaSink writer: one pass over 4 rows for 3 members")
    assert(new JdbcDeltaSink(url, t1).readRows().size === 1)
    assert(new JdbcDeltaSink(url, t2).readRows().size === 1)
    assert(union.getOffsets() === Map("s" -> 8L))
  }

  test("Union: multi-table deltas + shared offsets commit in one transaction") {
    val url = "jdbc:derby:memory:union;create=true"
    val t1 = TableSpec("u_dash", 1, Seq(ColumnSpec("m", "VARCHAR(32)"), ColumnSpec("n", "BIGINT")))
    val t2 = TableSpec("u_usage", 1, Seq(ColumnSpec("m", "VARCHAR(32)"), ColumnSpec("d", "BIGINT")))
    val union = new UnionDeltaSink(url, "grp", Seq(t1, t2))
    union.bootstrap()
    union.applyDeltas(Map("s" -> 10L), 0L, Map(
      "u_dash" -> Seq((Seq("m1", 1L), 1L)),
      "u_usage" -> Seq((Seq("m1", 99L), 1L))))
    assert(new JdbcDeltaSink(url, t1).readRows().size === 1)
    assert(new JdbcDeltaSink(url, t2).readRows().size === 1)
    assert(union.getOffsets() === Map("s" -> 10L))
    // redelivery is a union-wide no-op
    assert(!union.applyDeltas(Map("s" -> 99L), 0L, Map(
      "u_dash" -> Seq((Seq("m2", 2L), 1L)))))
    assert(new JdbcDeltaSink(url, t1).readRows().size === 1)
  }

  test("materialized view reads back as a Spark DataFrame source") {
    val sink = newSink("readback")
    sink.bootstrap()
    sink.applyDeltas(Map("s" -> 1L), 0L, Seq((Seq("aa", 12L), 2L), (Seq("bb", 7L), 1L)))
    val df = sink.readAsDataFrame(spark)
    assert(df.columns.toSeq === Seq("A", "B") || df.columns.toSeq === Seq("a", "b"))
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_.toString)
    assert(rows.toSeq === Seq(("aa", 12L), ("aa", 12L), ("bb", 7L)),
      "bag duplicates survive the round-trip")
  }

  test("Union foreachBatch writer dispatches on the _table tag in one txn") {
    import spark.implicits._
    val url = "jdbc:derby:memory:unionfb;create=true"
    val t1 = TableSpec("fb_dash", 1, Seq(ColumnSpec("m", "VARCHAR(32)"), ColumnSpec("n", "BIGINT")))
    val t2 = TableSpec("fb_usage", 1, Seq(ColumnSpec("m", "VARCHAR(32)"), ColumnSpec("d", "BIGINT")))
    val union = new UnionDeltaSink(url, "fbg", Seq(t1, t2))
    union.bootstrap()
    // one tagged micro-batch feeding both member tables + offsets
    val df = Seq(
      ("fb_dash", "m1", Some(1L), None: Option[Long], 1L, "s", 5L),
      ("fb_dash", "m1", Some(1L), None: Option[Long], 1L, "s", 6L), // consolidates to mult 2
      ("fb_usage", "m1", None: Option[Long], Some(99L), 1L, "s", 7L))
      .toDF("_table", "m", "n", "d", "mult", "_source", "_offset")
    union.foreachBatchWriter()(df, 0L)
    assert(new JdbcDeltaSink(url, t1).readRows().map(r => (r(0), r(1)))
      === Seq(("m1", 1L), ("m1", 1L)), "dash rows consolidated to mult 2")
    assert(new JdbcDeltaSink(url, t2).readRows().map(r => (r(0), r(1)))
      === Seq(("m1", 99L)))
    assert(union.getOffsets() === Map("s" -> 7L), "max offset per source")
    // redelivery of the same batch id is a union-wide no-op
    union.foreachBatchWriter()(df, 0L)
    assert(new JdbcDeltaSink(url, t1).readRows().size === 2)
  }

  test("Union version bump clears shared offsets/batches so replay re-applies") {
    val url = "jdbc:derby:memory:unionv;create=true"
    val a1 = TableSpec("uv_a", 1, Seq(ColumnSpec("a", "VARCHAR(32)")))
    val b = TableSpec("uv_b", 1, Seq(ColumnSpec("b", "BIGINT")))
    val u1 = new UnionDeltaSink(url, "g2", Seq(a1, b))
    u1.bootstrap()
    assert(u1.applyDeltas(Map("s" -> 7L), 0L, Map("uv_a" -> Seq((Seq("x"), 1L)))))
    assert(u1.getOffsets() === Map("s" -> 7L))

    val a2 = TableSpec("uv_a", 2, a1.columns) // member version bump
    val u2 = new UnionDeltaSink(url, "g2", Seq(a2, b))
    assert(u2.bootstrap(), "version bump → full replay required")
    assert(u2.getOffsets().isEmpty, "stale shared offsets must be cleared")
    // the replayed batch 0 must APPLY — with stale batch stamps it would
    // be skipped as already-applied and uv_a would stay empty forever
    assert(u2.applyDeltas(Map("s" -> 7L), 0L, Map("uv_a" -> Seq((Seq("x"), 1L)))))
    assert(new JdbcDeltaSink(url, a2).readRows().size === 1)
  }

  test("writer: each key's retraction and re-insertion go out as one UPDATE") {
    import spark.implicits._
    val n = 20
    def counted(db: String, indexed: Boolean) = {
      val sink = new JdbcDeltaSink(
        TestJdbc.Counting.url(s"jdbc:derby:memory:$db;create=true"),
        TableSpec("test_record", 1, Seq(
          ColumnSpec("a", "VARCHAR(64)", index = indexed), ColumnSpec("b", "BIGINT"))),
        rowBatchSize = 4)
      sink.bootstrap()
      sink.applyDeltas(Map.empty, 0L, (1 to n).map(i => (Seq(s"k$i", i.toLong), 1L)))
      TestJdbc.Counting.reset()
      sink
    }
    def sent(verb: String) = TestJdbc.Counting.sent(verb, "test_record")
    // every retraction before every re-insertion, spread over partitions:
    // only the writer's co-location brings a key's pair into one chunk
    val churn = ((1 to n).map(i => (s"k$i", i.toLong, -1L)) ++
      (1 to n).map(i => (s"k$i", i + 100L, 1L))).toDF("a", "b", "mult").repartition(3)
    val moved = (1 to n).map(i => Seq(s"k$i", i + 100L)).sortBy(_.toString)

    val sink = counted("pairwriter", indexed = true)
    sink.foreachBatchWriter()(churn, 1L)
    assert((sent("UPDATE"), sent("DELETE"), sent("INSERT")) === ((n.toLong, 0L, 0L)))
    assert(sink.readRows().sortBy(_.toString) === moved)

    // a spec without index columns keeps delete + insert
    val plain = counted("pairwriter_plain", indexed = false)
    plain.foreachBatchWriter()(churn, 1L)
    assert((sent("UPDATE"), sent("DELETE"), sent("INSERT")) === ((0L, n.toLong, n.toLong)))
    assert(plain.readRows().sortBy(_.toString) === moved)

    // an insert-only batch (no mult column) keeps its inserts
    val fresh = counted("pairwriter_ins", indexed = true)
    fresh.foreachBatchWriter()((1 to n).map(i => (s"z$i", i.toLong)).toDF("a", "b"), 1L)
    assert((sent("UPDATE"), sent("DELETE"), sent("INSERT")) === ((0L, 0L, n.toLong)))
    assert(fresh.readRows().size === 2 * n)
  }
}
