package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import graft.examples.Examples
import graft.sink.{ColumnSpec, JdbcDeltaSink, TableSpec}
import graft.streaming.{Delta, DeltaPipeline, Monotonic, SessionizeStream}

/** The program's [[JdbcDeltaSink]] behind two thin wrappers. Its public
  * writer runs unchanged and records when each batch's transaction has
  * committed. In traced runs each batch gets its own spans: the writer is
  * timed as a whole, its input carries a named observation that counts
  * the delta rows entering consolidation (read back by [[SparkTrace]]),
  * the transactional apply is timed, the consolidated rows it pulls from
  * Spark inside the transaction (`toLocalIterator`) are timed and counted
  * separately, and the timing JDBC driver reports into the same spans. */
final class BenchSink(url: String, spec: TableSpec, traced: Boolean)
    extends JdbcDeltaSink(url, spec) {

  val commitNanos = new ConcurrentHashMap[Long, Long]()
  private val batches = new ConcurrentHashMap[Long, Spans]()

  private def spansOf(batchId: Long): Spans = batches.computeIfAbsent(batchId, _ => new Spans)

  override def foreachBatchWriter(): (DataFrame, Long) => Unit = {
    val inner = super.foreachBatchWriter()
    (df, batchId) => {
      if (!traced) inner(df, batchId)
      else spansOf(batchId).time("writer")(
        inner(df.observe(BenchSink.RowsIn + batchId, count(lit(1))), batchId))
      commitNanos.put(batchId, System.nanoTime())
    }
  }

  override def applyDeltasStreamed(offsets: Map[String, Long], batchId: Long,
                                   deltas: Iterator[(Seq[Any], Long)]): Boolean =
    if (!traced) super.applyDeltasStreamed(offsets, batchId, deltas)
    else {
      val spans = spansOf(batchId)
      val pulled = new Iterator[(Seq[Any], Long)] {
        def hasNext: Boolean = spans.time("pull")(deltas.hasNext)
        def next(): (Seq[Any], Long) = {
          val d = spans.time("pull")(deltas.next())
          spans.count("rows_out")
          if (d._2 > 0) spans.count("inserted", d._2) else spans.count("retracted", -d._2)
          d
        }
      }
      val applied = JdbcTrace.within(spans)(
        spans.time("txn")(super.applyDeltasStreamed(offsets, batchId, pulled)))
      if (!applied) spans.count("skips")
      applied
    }

  /** Writer, sink and JDBC figures per batch over the given batches. The
    * writer's Spark time (`deltas.consolidate_ms`) is everything in the
    * writer but the transaction's own JDBC work: consolidation's jobs,
    * whether they run before the transaction or are pulled inside it, and
    * the offsets query. */
  def layers(batchIds: Seq[Long]): Map[String, Double] = {
    val s = new Spans
    batchIds.foreach(id => Option(batches.get(id)).foreach(s.add))
    val n = math.max(batchIds.size, 1).toDouble
    val txnDb = s.msOf("txn") - s.msOf("pull")
    Map("deltas.consolidate_ms" -> (s.msOf("writer") - txnDb) / n,
      "deltas.pull_ms" -> s.msOf("pull") / n,
      "deltas.rows_out" -> s.countOf("rows_out") / n,
      "sink.txn_ms" -> s.msOf("txn") / n,
      "sink.txn_db_ms" -> txnDb / n,
      "sink.rows_inserted" -> s.countOf("inserted") / n,
      "sink.rows_retracted" -> s.countOf("retracted") / n,
      "sink.idempotent_skips" -> s.countOf("skips").toDouble) ++ Layers.jdbc(s, n)
  }
}

object BenchSink {
  /** Observation name prefix; the batch id completes it. */
  val RowsIn = "perfbench_rows_in_"
}

/** Shared plumbing of the two streaming workloads. */
object Streaming {

  val DashboardSpec: TableSpec = TableSpec("dashboard", 1, Seq(
    ColumnSpec("machine", "VARCHAR(16)", index = true),
    ColumnSpec("status", "VARCHAR(8)"),
    ColumnSpec("manufacturing_order", "VARCHAR(24)"),
    ColumnSpec("since_micros", "BIGINT")))

  val UsageSpec: TableSpec = TableSpec("machine_usage", 1, Seq(
    ColumnSpec("machine", "VARCHAR(16)", index = true),
    ColumnSpec("manufacturing_order", "VARCHAR(24)"),
    ColumnSpec("started_micros", "BIGINT"),
    ColumnSpec("duration_micros", "BIGINT")))

  val byTime: Ordering[Ev] = Ordering.by[Ev, (Long, Long)](e => (e.tsMicros, e.lamport))

  def derbyUrl(db: String): String = s"jdbc:derby:memory:$db;create=true"

  /** Drop an in-memory Derby database; Derby signals success by throwing. */
  def dropDerby(db: String): Unit =
    try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true").close()
    catch { case _: java.sql.SQLException => () }

  def normalise(row: Seq[Any]): String = row.map {
    case null => "NULL"
    case n: java.lang.Number => n.longValue.toString
    case v => v.toString
  }.mkString("|")

  /** The view equals the batch query, and a row deleted behind the sink
    * makes the same comparison fail (the negative control). */
  def viewChecks(sink: BenchSink, db: String, table: String, keyCol: String,
                 expected: Seq[String]): Map[String, Boolean] = {
    val want = expected.sorted
    def matches(): Boolean = sink.readRows().map(normalise).sorted == want
    val equal = matches()
    val c = java.sql.DriverManager.getConnection(derbyUrl(db))
    try {
      val st = c.createStatement()
      st.executeUpdate(s"DELETE FROM $table WHERE $keyCol = (SELECT MIN($keyCol) FROM $table)")
      st.close()
    } finally c.close()
    Map("view_equals_batch_query" -> equal,
      "negative_control_detected" -> (want.nonEmpty && !matches()))
  }

  def progressLayers(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val last = ps.lastOption.toSeq.flatMap(_.stateOperators)
    Map(
      "streaming.trigger_ms" -> Stats.median(ps.map(dur(_, "triggerExecution"))),
      "streaming.planning_ms" -> Stats.median(ps.map(dur(_, "queryPlanning"))),
      "streaming.wal_ms" -> Stats.median(ps.map(p => dur(p, "walCommit") + dur(p, "commitOffsets"))),
      "streaming.state_commit_ms" -> Stats.median(ps.map(_.stateOperators.map(_.commitTimeMs.toDouble).sum)),
      "streaming.state_rows" -> last.map(_.numRowsTotal.toDouble).sum,
      "streaming.state_bytes" -> last.map(_.memoryUsedBytes.toDouble).sum)
  }

  /** Delta rows entering consolidation per batch, from the traced
    * writer's per-batch observations. */
  def rowsIn(trace: SparkTrace, batchIds: Iterable[Long], units: Long): Double =
    batchIds.map(id => trace.observed.getOrElse(BenchSink.RowsIn + id, 0L)).sum /
      math.max(units, 1L).toDouble

  def endOffset(p: StreamingQueryProgress): Long = p.sources.head.endOffset.trim.toLong
  def startOffset(p: StreamingQueryProgress): Long =
    Option(p.sources.head.startOffset).map(_.trim).filter(_.nonEmpty).map(_.toLong).getOrElse(-1L)
}

/** catchup_dashboard: the generated log replayed in closed loop as
  * 10,000-event micro-batches over 20,000 machines, through
  * `Monotonic.maxByStream` and `DeltaPipeline.start` into the JDBC sink.
  * The log opens with one event per machine (the first two batches, the
  * first of them part of set-up), so every later batch retracts and
  * re-inserts the row of each machine it touches, about 7.9k of them.
  * The untimed warm-up runs through the rest of the opening and four
  * retracting batches: the first retracting batches of a run were
  * 15–30% slower than the later ones while the JIT settled, a trend that
  * otherwise lands in the timed batches. */
object Catchup {
  val BatchEvents = 10000
  val Machines = 20000
  val WarmupBatches: Int = Machines / BatchEvents + 3

  private final class Pipeline(val spark: SparkSession, ctx: Ctx, val db: String) {
    import spark.implicits._
    private implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val log = new MachineLog(ctx.seed, Machines, primed = true)
    val emitted = ArrayBuffer.empty[Ev]
    val sink = new BenchSink(ctx.jdbcUrl(db), Streaming.DashboardSpec, ctx.trace)
    private val mem = MemoryStream[Delta[Ev]]
    private val view = Monotonic.maxByStream[Ev, String](mem.toDS(), _.machine)(
      Streaming.byTime, Encoders.STRING, implicitly, implicitly)
    // the envelope's source and offset ride along, so every sink
    // transaction also upserts the per-source offsets
    private val deltas = view.toDF().select(
      col("record.machine").as("machine"),
      when(col("record.started"), lit("working")).otherwise(lit("idle")).as("status"),
      when(col("record.started"), col("record.order")).as("manufacturing_order"),
      col("record.tsMicros").as("since_micros"),
      col("mult"),
      col("record.source").as("_source"),
      col("record.offset").as("_offset"))
    val query: StreamingQuery =
      DeltaPipeline.start(deltas, sink, ctx.dir(s"checkpoint-$db"), Trigger.ProcessingTime(0L))

    /** Append one batch and wait for it; returns when its data was added. */
    def feed(): Long = {
      val evs = log.take(BatchEvents)
      emitted ++= evs
      val added = System.nanoTime()
      mem.addData(evs.map(Delta(_, 1L)))
      query.processAllAvailable()
      added
    }

    def lastBatchId: Long = query.lastProgress.batchId

    def close(): Unit = { query.stop(); Streaming.dropDerby(db) }
  }

  def run(ctx: Ctx): Outcome = {
    val runStart = System.nanoTime()
    val setupS = ArrayBuffer.empty[Double]
    var p: Pipeline = null
    for (i <- 0 until ctx.setups) {
      if (p != null) { p.close(); ctx.stop() }
      val t0 = System.nanoTime()
      p = new Pipeline(ctx.freshSession(), ctx, s"dash$i")
      p.feed()
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val setupEnd = System.nanoTime()
    (1 to WarmupBatches).foreach(_ => p.feed())
    val trace = if (ctx.trace) Some(ctx.startTrace()) else None
    val firstTimed = p.lastBatchId + 1
    val added = ArrayBuffer.empty[(Long, Long)]
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < ctx.seconds * 1000000000L) {
      val at = p.feed()
      added += (p.lastBatchId -> at)
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val units = added.size.toLong
    val batchMs = added.map { case (id, at) => Stats.ms(at, p.sink.commitNanos.get(id)) }
    val layers = trace.map(_.close(units, ctx.cores)).getOrElse(Map.empty) ++ (
      if (!ctx.trace) Map.empty
      else {
        val ps = p.query.recentProgress.toSeq.filter(_.batchId >= firstTimed)
        Streaming.progressLayers(ps) ++ p.sink.layers(added.map(_._1).toSeq) ++
          Map("deltas.rows_in" -> Streaming.rowsIn(trace.get, added.map(_._1), units),
            "setup.first_s" -> setupS.head,
            "tables.events_scan_ms" -> Layers.eventsScanMs(p.spark, ctx.dataDir))
      })
    val expected = {
      val spark = p.spark
      import spark.implicits._
      Examples.dashboard(spark.createDataset(p.emitted.map(_.toMachineEvent).toSeq))(spark)
        .collect().toSeq
        .map(e => Streaming.normalise(Seq(e.machine, e.status, e.manufacturingOrder.orNull, e.sinceMicros)))
    }
    val lastOffsets = p.emitted.groupBy(_.source).map { case (s, es) => s -> es.map(_.offset).max }
    val checks = Map(
      "last_batch_id" -> (p.sink.lastBatchId().contains(p.lastBatchId)),
      "offsets_upserted" -> (p.sink.getOffsets() == lastOffsets),
      "every_batch_committed" -> added.forall { case (id, _) => p.sink.commitNanos.containsKey(id) }) ++
      Streaming.viewChecks(p.sink, p.db, "dashboard", "machine", expected)
    p.close()
    Outcome(units, 0L,
      Map("events_per_s" -> units * BatchEvents / wallS,
        "batch_ms.p50" -> Stats.median(batchMs),
        // closed loop: the source holds no backlog, so every event of a
        // batch becomes visible when that batch commits
        "freshness_ms.p50" -> Stats.median(batchMs),
        "freshness_ms.p90" -> Stats.quantile(batchMs, 0.9),
        "setup_s" -> Stats.median(setupS)),
      layers, checks,
      Map("setup_samples_s" -> setupS.mkString(","), "timed_batches" -> units.toString,
        "batch_ms" -> batchMs.map(m => f"$m%.0f").mkString(","),
        "phases_s" -> Seq((setupEnd - runStart) / 1e9, wallS, (System.nanoTime() - t0) / 1e9 - wallS)
          .map(x => f"$x%.1f").mkString(",")))
  }
}

/** live_usage: an open-loop generator thread appends 400 events/s over
  * 1,500 machines; `SessionizeStream.usageStream` feeds an append-mode
  * query whose `foreachBatch` is the sink's public writer. */
object Live {
  val Rate = 400
  val Machines = 1500
  val WarmupS = 1.0
  val ChunkMs = 50L

  private final class Pipeline(val spark: SparkSession, ctx: Ctx, val db: String) {
    import spark.implicits._
    private implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val log = new MachineLog(ctx.seed, Machines)
    val emitted = ArrayBuffer.empty[Ev]
    val sink = new BenchSink(ctx.jdbcUrl(db), Streaming.UsageSpec, ctx.trace)
    private val mem = MemoryStream[graft.streaming.SessionEvent]
    // DeltaPipeline.start fixes output mode "update", which the append-only
    // usage view rejects at analysis, so the writer is wired here.
    sink.bootstrap()
    val query: StreamingQuery = SessionizeStream.usageStream(mem.toDS())
      .toDF("machine", "manufacturing_order", "started_micros", "duration_micros")
      .writeStream.outputMode("append")
      .trigger(Trigger.ProcessingTime(0L))
      .option("checkpointLocation", ctx.dir(s"checkpoint-$db"))
      .foreachBatch(sink.foreachBatchWriter())
      .start()

    /** addData calls in order: (stream offset, creation nanos of each
      * event), and the running event count after each call. */
    val calls = ArrayBuffer.empty[(Long, Array[Long])]
    private val cumulative = ArrayBuffer.empty[Long]

    def add(evs: Seq[Ev], created: Array[Long]): Unit = calls.synchronized {
      emitted ++= evs
      val off = mem.addData(evs.map(_.toSessionEvent)).json().trim.toLong
      calls += (off -> created)
      cumulative += cumulative.lastOption.getOrElse(0L) + created.length
    }

    /** Events added but not yet in a committed batch. */
    def backlog(): Long = calls.synchronized {
      val lp = query.lastProgress
      val done = if (lp == null) -1L else Streaming.endOffset(lp)
      val committed = calls.map(_._1).search(done + 1).insertionPoint
      cumulative.last - (if (committed == 0) 0L else cumulative(committed - 1))
    }

    def close(): Unit = { query.stop(); Streaming.dropDerby(db) }
  }

  /** Adds the events due by the wall clock, every `ChunkMs`, until
    * stopped. Each event's creation time is its scheduled time, so a late
    * generator shows as lost freshness, not as a lower offered load.
    * MemoryStream turns every addData call into its own input partition,
    * so events go in chunks rather than one by one. */
  private final class Generator(p: Pipeline) extends Thread("perfbench-generator") {
    @volatile var stopped = false
    @volatile var lateMaxMs = 0.0
    @volatile var backlogMax = 0L
    @volatile var windowFrom = Long.MaxValue
    private val periodNanos = 1e9 / Rate
    private val t0 = System.nanoTime()
    private var next = 0L

    override def run(): Unit = while (!stopped) {
      val now = System.nanoTime()
      val due = ((now - t0) / periodNanos).toLong + 1
      if (due > next) {
        val created = Array.tabulate((due - next).toInt)(k => t0 + ((next + k) * periodNanos).toLong)
        p.add(p.log.take(created.length), created)
        next = due
        if (created.head >= windowFrom) {
          lateMaxMs = math.max(lateMaxMs, Stats.ms(created.head, now))
          backlogMax = math.max(backlogMax, p.backlog())
        }
      }
      LockSupport.parkNanos(ChunkMs * 1000000L)
    }
  }

  def run(ctx: Ctx): Outcome = {
    val runStart = System.nanoTime()
    val setupS = ArrayBuffer.empty[Double]
    var p: Pipeline = null
    for (i <- 0 until ctx.setups) {
      if (p != null) { p.close(); ctx.stop() }
      val t0 = System.nanoTime()
      p = new Pipeline(ctx.freshSession(), ctx, s"usage$i")
      // the first second of events, committed as the first micro-batch
      val first = p.log.take(Rate)
      p.add(first, Array.fill(first.size)(System.nanoTime()))
      p.query.processAllAvailable()
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val gen = new Generator(p)
    gen.setDaemon(true)
    gen.start()
    Thread.sleep((WarmupS * 1000).toLong)
    val trace = if (ctx.trace) Some(ctx.startTrace()) else None
    val from = System.nanoTime()
    gen.windowFrom = from
    Thread.sleep(ctx.seconds * 1000L)
    val to = System.nanoTime()
    gen.stopped = true
    gen.join()
    p.query.processAllAvailable()
    val drained = System.nanoTime()

    // batch id -> its addData calls, through each progress's offset range
    val progress = p.query.recentProgress.toSeq.filter(_.numInputRows > 0)
    val calls = p.calls.toSeq
    val perBatch = progress.map { pr =>
      val (lo, hi) = (Streaming.startOffset(pr), Streaming.endOffset(pr))
      pr -> calls.filter { case (off, _) => off > lo && off <= hi }
    }
    val timed = perBatch.filter { case (_, cs) =>
      cs.exists { case (_, created) => created.exists(c => c >= from && c < to) }
    }
    val freshness = timed.flatMap { case (pr, cs) =>
      val commit = p.sink.commitNanos.get(pr.batchId)
      cs.flatMap(_._2).filter(c => c >= from && c < to).map(c => Stats.ms(c, commit))
    }
    val batchMs = timed.map { case (pr, cs) =>
      Stats.ms(cs.flatMap(_._2).min, p.sink.commitNanos.get(pr.batchId))
    }
    val units = timed.size.toLong
    val layers = trace.map(_.close(units, ctx.cores)).getOrElse(Map.empty) ++ (
      if (!ctx.trace) Map.empty
      else Streaming.progressLayers(timed.map(_._1)) ++ p.sink.layers(timed.map(_._1.batchId)) ++
        Map("deltas.rows_in" -> Streaming.rowsIn(trace.get, timed.map(_._1.batchId), units),
          "setup.first_s" -> setupS.head,
          "gen.late_ms.max" -> gen.lateMaxMs,
          "gen.backlog_events.max" -> gen.backlogMax.toDouble,
          "tables.events_scan_ms" -> Layers.eventsScanMs(p.spark, ctx.dataDir)))
    val expected = {
      val spark = p.spark
      import spark.implicits._
      Examples.usage(spark.createDataset(p.emitted.map(_.toMachineEvent).toSeq))(spark)
        .collect().toSeq
        .map(u => Streaming.normalise(Seq(u.machine, u.manufacturingOrder, u.startedMicros, u.durationMicros)))
    }
    val lastId = p.query.lastProgress.batchId
    val checks = Map(
      "last_batch_id" -> p.sink.lastBatchId().contains(lastId),
      "every_batch_committed" -> perBatch.forall { case (pr, _) => p.sink.commitNanos.containsKey(pr.batchId) },
      "timed_events_all_committed" ->
        (freshness.size.toLong == calls.flatMap(_._2).count(c => c >= from && c < to))) ++
      Streaming.viewChecks(p.sink, p.db, "machine_usage", "machine", expected)
    // events of the window a reader could see by its end: a sink that
    // falls behind commits fewer of them by then
    val visibleByEnd = timed.map { case (pr, cs) =>
      if (p.sink.commitNanos.get(pr.batchId) > to) 0
      else cs.flatMap(_._2).count(c => c >= from && c < to)
    }.sum
    p.close()
    Outcome(units, 0L,
      Map("events_per_s" -> visibleByEnd / ((to - from) / 1e9),
        "batch_ms.p50" -> Stats.median(batchMs),
        "freshness_ms.p50" -> Stats.median(freshness),
        "freshness_ms.p90" -> Stats.quantile(freshness, 0.9),
        "setup_s" -> Stats.median(setupS)),
      layers, checks,
      Map("setup_samples_s" -> setupS.mkString(","), "timed_batches" -> units.toString,
        "generator_late_ms_max" -> gen.lateMaxMs.toString,
        "phases_s" -> Seq(from - runStart, to - from, drained - to, System.nanoTime() - drained)
          .map(x => f"${x / 1e9}%.1f").mkString(",")))
  }
}
