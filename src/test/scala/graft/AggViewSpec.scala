package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.sink.{AggDeltaSink, ColumnSpec}
import graft.streaming.DeltaPipeline

/** Incremental aggregate-view maintenance: SUM/COUNT views stay exact
  * under inserts + retractions with O(churned groups) work per batch —
  * never a recompute — plus zero-elimination, over-retraction detection,
  * and batch-id idempotence (the raw sink's exactly-once guarantees
  * carried over to the aggregate protocol). */
class AggViewSpec extends SparkTestBase {
  import spark.implicits._

  private def freshSink(db: String) = new AggDeltaSink(
    s"jdbc:derby:memory:$db;create=true", "machine_stats", 1,
    keys = Seq(ColumnSpec("machine", "VARCHAR(32)", index = true)),
    sums = Seq(ColumnSpec("total_pcs", "BIGINT")))

  private def view(sink: AggDeltaSink): Map[String, (Long, Long)] =
    sink.readRows().map(r => r(0).asInstanceOf[String] ->
      ((r(1).asInstanceOf[Number].longValue, r(2).asInstanceOf[Number].longValue)))
      .toMap

  test("adjustments accumulate, retract, and zero-eliminate exactly") {
    val sink = freshSink("aggv1")
    sink.bootstrap()
    val w = sink.foreachBatchWriter()

    // batch 0: inserts across two groups
    w(Seq(("Drill1", 5L, 1L), ("Drill1", 7L, 1L), ("Press1", 10L, 1L))
      .toDF("machine", "total_pcs", "mult"), 0L)
    assert(view(sink) === Map("Drill1" -> ((2L, 12L)), "Press1" -> ((1L, 10L))))

    // batch 1: retraction + correction (retract 7, assert 8) in ONE batch
    w(Seq(("Drill1", 7L, -1L), ("Drill1", 8L, 1L), ("Press1", 3L, 1L))
      .toDF("machine", "total_pcs", "mult"), 1L)
    assert(view(sink) === Map("Drill1" -> ((2L, 13L)), "Press1" -> ((2L, 13L))))

    // batch 2: retract everything Press1 ever got → group vanishes
    w(Seq(("Press1", 10L, -1L), ("Press1", 3L, -1L))
      .toDF("machine", "total_pcs", "mult"), 2L)
    assert(view(sink) === Map("Drill1" -> ((2L, 13L))),
      "cnt=0 must delete the group row (zero-elimination)")

    // redelivery of batch 2 is a no-op (exactly-once)
    w(Seq(("Drill1", 999L, -1L)).toDF("machine", "total_pcs", "mult"), 2L)
    assert(view(sink) === Map("Drill1" -> ((2L, 13L))),
      "an already-applied batch id must not re-apply")

    // over-retraction aborts and leaves the view untouched
    val ex = intercept[IllegalStateException] {
      w(Seq(("Drill1", 6L, -1L), ("Drill1", 7L, -1L), ("Drill1", 0L, -1L))
        .toDF("machine", "total_pcs", "mult"), 3L)
    }
    assert(ex.getMessage.contains("retractions"))
    assert(view(sink) === Map("Drill1" -> ((2L, 13L))), "txn rolled back")

    // absent group netting dn=0 but ds≠0 (retract v=1 + insert v=5):
    // the stream retracts state the view never had — must abort, not
    // silently drop the sum adjustment
    val ex2 = intercept[IllegalStateException] {
      w(Seq(("Ghost1", 1L, -1L), ("Ghost1", 5L, 1L))
        .toDF("machine", "total_pcs", "mult"), 4L)
    }
    assert(ex2.getMessage.contains("absent group"))
    assert(view(sink) === Map("Drill1" -> ((2L, 13L))), "txn rolled back")
  }

  test("matches a full recompute through a random churn sequence") {
    val sink = freshSink("aggv2")
    sink.bootstrap()
    val w = sink.foreachBatchWriter()
    val rnd = new scala.util.Random(11)
    val live = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    var batch = 0L
    (1 to 8).foreach { _ =>
      val inserts = Seq.fill(rnd.nextInt(20) + 1)(
        ("m" + rnd.nextInt(5), rnd.nextInt(100).toLong))
      val removals = rnd.shuffle(live).take(rnd.nextInt(live.size + 1) / 2)
      removals.foreach(live -= _)
      live ++= inserts
      val deltas = inserts.map { case (m, v) => (m, v, 1L) } ++
        removals.map { case (m, v) => (m, v, -1L) }
      w(deltas.toDF("machine", "total_pcs", "mult"), batch)
      batch += 1
    }
    val expect = live.groupBy(_._1).map { case (m, vs) =>
      m -> ((vs.size.toLong, vs.map(_._2).sum))
    }
    assert(view(sink) === expect, "incremental view ≡ recompute at every point")
  }

  test("streaming end-to-end: delta stream maintains the aggregate view") {
    implicit val sqlCtx = spark.sqlContext
    val sink = freshSink("aggv3")
    val mem = MemoryStream[(String, Long, Long)]
    val deltas = mem.toDF().toDF("machine", "total_pcs", "mult")

    val q = DeltaPipeline.start(deltas, sink,
      java.nio.file.Files.createTempDirectory("graft-aggckpt").toString,
      Trigger.ProcessingTime(0L))
    try {
      mem.addData(("Drill1", 5L, 1L), ("Press1", 4L, 1L))
      q.processAllAvailable()
      mem.addData(("Drill1", 6L, 1L), ("Press1", 4L, -1L))
      q.processAllAvailable()
      assert(view(sink) === Map("Drill1" -> ((2L, 11L))),
        "Press1 zero-eliminated; Drill1 accumulated across micro-batches")
    } finally q.stop()
  }

  test("union membership: raw member + aggregate view commit in ONE shared transaction") {
    import graft.sink.{TableSpec, JdbcDeltaSink, UnionDeltaSink}
    val url = "jdbc:derby:memory:aggunion;create=true"
    val rawSpec = TableSpec("audit_rows", 1, Seq(
      ColumnSpec("machine", "VARCHAR(32)", index = true),
      ColumnSpec("pcs", "BIGINT")))
    val agg = new AggDeltaSink(url, "machine_rollup", 1,
      keys = Seq(ColumnSpec("machine", "VARCHAR(32)", index = true)),
      sums = Seq(ColumnSpec("total_pcs", "BIGINT")))
    val union = new UnionDeltaSink(url, "mixgrp", Seq(rawSpec),
      aggMembers = Seq(agg))
    union.bootstrap()

    // one batch feeds the raw audit table AND its rollup atomically
    assert(union.applyMixed(Map("s" -> 10L), 0L,
      Map("audit_rows" -> Seq((Seq("m1", 5L), 1L), (Seq("m1", 7L), 1L))),
      Map("machine_rollup" -> Seq((Seq("m1"), 2L, Seq(12L))))))
    assert(new JdbcDeltaSink(url, rawSpec).readRows().size === 2)
    assert(view(agg) === Map("m1" -> ((2L, 12L))))
    assert(union.getOffsets() === Map("s" -> 10L))

    // redelivery: union-wide no-op across BOTH member kinds
    assert(!union.applyMixed(Map("s" -> 99L), 0L,
      Map("audit_rows" -> Seq((Seq("m2", 1L), 1L))),
      Map("machine_rollup" -> Seq((Seq("m2"), 1L, Seq(1L))))))
    assert(new JdbcDeltaSink(url, rawSpec).readRows().size === 2)
    assert(view(agg) === Map("m1" -> ((2L, 12L))))

    // an over-retraction in the AGG member rolls back the RAW member's
    // rows of the same batch — all-members-or-nothing
    intercept[IllegalStateException] {
      union.applyMixed(Map.empty, 1L,
        Map("audit_rows" -> Seq((Seq("m9", 1L), 1L))),
        Map("machine_rollup" -> Seq((Seq("ghost"), -5L, Seq(-99L)))))
    }
    assert(new JdbcDeltaSink(url, rawSpec).readRows()
      .forall(_.head != "m9"), "raw rows of the aborted batch rolled back")
    assert(view(agg) === Map("m1" -> ((2L, 12L))))
    // the aborted batch id is NOT stamped: a corrected retry applies
    assert(union.applyMixed(Map.empty, 1L,
      Map("audit_rows" -> Seq((Seq("m9", 1L), 1L))),
      Map("machine_rollup" -> Seq((Seq("m9"), 1L, Seq(1L))))))
    assert(view(agg) === Map("m1" -> ((2L, 12L)), "m9" -> ((1L, 1L))))

    // foreachBatch writer: _table tag dispatches to raw AND agg members
    import spark.implicits._
    val w = union.foreachBatchWriter()
    val batch = Seq(
      ("audit_rows", "m1", 9L: java.lang.Long, null: java.lang.Long, 1L),
      ("machine_rollup", "m1", null: java.lang.Long, 9L: java.lang.Long, 1L),
      ("machine_rollup", "m9", null: java.lang.Long, 1L: java.lang.Long, -1L))
      .toDF("_table", "machine", "pcs", "total_pcs", "mult")
    w(batch, 2L)
    assert(new JdbcDeltaSink(url, rawSpec).readRows().count(_.head == "m1") === 3)
    assert(view(agg) === Map("m1" -> ((3L, 21L))),
      "m9 zero-eliminated, m1 accumulated through the tagged writer")
  }
}
