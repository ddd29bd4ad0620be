package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.{Delta, Monotonic, DeltaPipeline}
import graft.sink.{ColumnSpec, TableSpec, JdbcDeltaSink}

/** Machine-dashboard reading: current status per machine (reference
  * machine-dashboard/model.rs:29-45). */
case class Reading(machine: String, status: String, since: Long)

/** End-to-end incremental profile — the reference's §3.1 pipeline shape:
  * event stream → monotonic argmax per key → delta stream → exactly-once
  * JDBC sink. Asserts the DB always holds exactly the current view (one
  * row per machine), with retractions applied transactionally. */
class PipelineSpec extends SparkTestBase {

  test("stream → monotonic_max_by → JDBC delta sink keeps the view in sync") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val sink = new JdbcDeltaSink(
      "jdbc:derby:memory:pipeline;create=true",
      TableSpec("dashboard", 1, Seq(
        ColumnSpec("machine", "VARCHAR(32)", index = true),
        ColumnSpec("status", "VARCHAR(16)"),
        ColumnSpec("since", "BIGINT"))))

    val mem = MemoryStream[Delta[Reading]]
    val view = Monotonic.maxByStream[Reading, String](
      mem.toDS(), _.machine)(
      Ordering.by(r => (r.since, r.status)), implicitly, implicitly, implicitly)
    val deltas = view.toDF().select(col("record.*"), col("mult"))

    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val q = DeltaPipeline.start(deltas, sink, ckpt, Trigger.ProcessingTime(0L))

    def rows(): Set[(String, String, Long)] = sink.readRows()
      .map(r => (r(0).asInstanceOf[String], r(1).asInstanceOf[String],
        r(2).asInstanceOf[Number].longValue)).toSet

    try {
      mem.addData(
        Delta(Reading("Drill1", "idle", 100L), 1L),
        Delta(Reading("Drill2", "working", 150L), 1L))
      q.processAllAvailable()
      assert(rows() === Set(("Drill1", "idle", 100L), ("Drill2", "working", 150L)))

      // a newer reading for Drill1 must REPLACE its row (retraction+insert
      // in one transaction), Drill2 untouched
      mem.addData(Delta(Reading("Drill1", "working", 300L), 1L))
      q.processAllAvailable()
      assert(rows() === Set(("Drill1", "working", 300L), ("Drill2", "working", 150L)))

      // stale reading (older since): no change to the view
      mem.addData(Delta(Reading("Drill1", "idle", 200L), 1L))
      q.processAllAvailable()
      assert(rows() === Set(("Drill1", "working", 300L), ("Drill2", "working", 150L)))
    } finally q.stop()
  }

  test("stream → union sink: two tagged views commit per batch in one txn") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.sink.UnionDeltaSink

    val url = "jdbc:derby:memory:unionstream;create=true"
    val tDash = TableSpec("us_dash", 1, Seq(
      ColumnSpec("machine", "VARCHAR(32)"), ColumnSpec("since", "BIGINT")))
    val tLog = TableSpec("us_log", 1, Seq(
      ColumnSpec("machine", "VARCHAR(32)"), ColumnSpec("n", "BIGINT")))
    val union = new UnionDeltaSink(url, "usg", Seq(tDash, tLog))

    val mem = MemoryStream[(String, Long)]
    // one input stream fans out to two member views: latest-reading rows
    // (tagged us_dash) and a per-event audit row (tagged us_log)
    val src = mem.toDF().toDF("machine", "since")
    val dash = src.select(lit("us_dash").as("_table"), col("machine"),
      col("since"), lit(null).cast("long").as("n"), lit(1L).as("mult"),
      lit("s").as("_source"), col("since").as("_offset"))
    val log = src.select(lit("us_log").as("_table"), col("machine"),
      lit(null).cast("long").as("since"), lit(1L).as("n"), lit(1L).as("mult"),
      lit("s").as("_source"), col("since").as("_offset"))
    val tagged = dash.unionByName(log)

    val ckpt = java.nio.file.Files.createTempDirectory("graft-union-ckpt").toString
    val q = DeltaPipeline.start(tagged, union, ckpt,
      Trigger.ProcessingTime(0L))
    try {
      mem.addData(("Drill1", 100L), ("Drill2", 150L))
      q.processAllAvailable()
      assert(new JdbcDeltaSink(url, tDash).readRows().size === 2)
      assert(new JdbcDeltaSink(url, tLog).readRows().size === 2)
      assert(union.getOffsets() === Map("s" -> 150L),
        "shared offsets advance with the union transaction")
    } finally q.stop()
  }
}
