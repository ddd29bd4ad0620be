package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DriverManager, PreparedStatement, Statement}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Named counters and nanosecond timers, kept in memory until the run
  * ends. Every traced layer reports through one of these. */
final class Spans {
  private val counts = new ConcurrentHashMap[String, LongAdder]()
  private val nanos = new ConcurrentHashMap[String, LongAdder]()

  def count(name: String, n: Long = 1L): Unit =
    counts.computeIfAbsent(name, _ => new LongAdder).add(n)

  def addNanos(name: String, n: Long): Unit =
    nanos.computeIfAbsent(name, _ => new LongAdder).add(n)

  def time[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally addNanos(name, System.nanoTime() - t0)
  }

  def countOf(name: String): Long = Option(counts.get(name)).map(_.sum).getOrElse(0L)
  def msOf(name: String): Double = Option(nanos.get(name)).map(_.sum / 1e6).getOrElse(0.0)

  def reset(): Unit = { counts.clear(); nanos.clear() }

  /** Add every counter and timer of `o` to this one. */
  def add(o: Spans): Unit = {
    o.counts.forEach((k, v) => count(k, v.sum))
    o.nanos.forEach((k, v) => addNanos(k, v.sum))
  }
}

/** A timing JDBC driver for URLs `jdbc:perfbench:<inner>`: it opens
  * `jdbc:<inner>` and wraps the connection so every connect, statement
  * execution and commit is counted and timed by statement kind, into the
  * spans the calling thread set with `within`. The sink is unchanged;
  * only its URL points at this driver in traced runs. */
object JdbcTrace {
  val Prefix = "jdbc:perfbench:"
  private val current = new ThreadLocal[Spans]

  /** Run `f` with this thread's JDBC calls recorded into `spans`. */
  def within[A](spans: Spans)(f: => A): A = {
    val prev = current.get
    current.set(spans)
    try f finally current.set(prev)
  }

  def url(inner: String): String = Prefix + inner.stripPrefix("jdbc:")

  lazy val registered: Boolean = { DriverManager.registerDriver(TimingDriver); true }

  /** select / insert / delete / update / ddl, from the statement text. */
  def kind(sql: String): String = {
    val w = sql.trim.takeWhile(!_.isWhitespace).toLowerCase
    if (Set("select", "insert", "delete", "update")(w)) w else "ddl"
  }

  private object TimingDriver extends java.sql.Driver {
    def connect(u: String, p: java.util.Properties): Connection =
      if (!acceptsURL(u)) null
      else {
        connection(timed("connect")(() =>
          DriverManager.getConnection("jdbc:" + u.substring(Prefix.length), p)).asInstanceOf[Connection])
      }
    def acceptsURL(u: String): Boolean = u != null && u.startsWith(Prefix)
    def getPropertyInfo(u: String, p: java.util.Properties): Array[java.sql.DriverPropertyInfo] = Array.empty
    def getMajorVersion: Int = 1
    def getMinorVersion: Int = 0
    def jdbcCompliant(): Boolean = false
    def getParentLogger: java.util.logging.Logger = java.util.logging.Logger.getLogger("perfbench-jdbc")
  }

  private def proxy[T](iface: Class[T], target: AnyRef)(
      around: (Method, Array[AnyRef], () => AnyRef) => AnyRef): T =
    Proxy.newProxyInstance(iface.getClassLoader, Array[Class[_]](iface),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
          around(m, args, () =>
            try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
            catch { case e: InvocationTargetException => throw Option(e.getCause).getOrElse(e) })
      }).asInstanceOf[T]

  private def timed(name: String)(run: () => AnyRef): AnyRef = {
    val spans = current.get
    if (spans == null) run()
    else {
      spans.count(name)
      spans.time(name)(run())
    }
  }

  private def connection(real: Connection): Connection =
    proxy(classOf[Connection], real) { (m, args, run) =>
      m.getName match {
        case "prepareStatement" =>
          prepared(run().asInstanceOf[PreparedStatement], kind(args(0).asInstanceOf[String]))
        case "createStatement" => plain(run().asInstanceOf[Statement])
        case "commit" => timed("commit")(run)
        case _ => run()
      }
    }

  private def prepared(ps: PreparedStatement, k: String): PreparedStatement =
    proxy(classOf[PreparedStatement], ps) { (m, _, run) =>
      m.getName match {
        case "executeBatch" => timed(k + "_batch")(run)
        case "executeUpdate" | "executeQuery" | "execute" => timed(k)(run)
        case _ => run()
      }
    }

  private def plain(st: Statement): Statement =
    proxy(classOf[Statement], st) { (m, args, run) =>
      m.getName match {
        case "executeUpdate" | "executeQuery" | "execute"
            if args != null && args.nonEmpty && args(0).isInstanceOf[String] =>
          timed(kind(args(0).asInstanceOf[String]))(run)
        case _ => run()
      }
    }
}

/** Spark execution and Catalyst figures for one measured window, from
  * the public listener APIs: a `SparkListener` (jobs, stages, tasks,
  * shuffle and spill bytes, task run time) and a `QueryExecutionListener`
  * (planning phases against execution time). Listener events arrive
  * asynchronously, so scheduler events are kept by their own timestamps
  * and `close` waits for the bus before reading. */
final class SparkTrace(spark: SparkSession) {
  private val spans = new Spans
  @volatile private var fromMs = Long.MaxValue
  @volatile private var toMs = Long.MaxValue
  @volatile private var open = false

  private def inWindow(t: Long): Boolean = t >= fromMs && t <= toMs

  private val listener = new SparkListener {
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (inWindow(e.time)) spans.count("jobs")
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      if (inWindow(i.completionTime.getOrElse(0L))) {
        spans.count("stages")
        val tm = i.taskMetrics
        if (tm != null) {
          spans.count("shuffle_bytes", tm.shuffleWriteMetrics.bytesWritten)
          spans.count("spill_bytes", tm.memoryBytesSpilled + tm.diskBytesSpilled)
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (inWindow(e.taskInfo.finishTime)) {
        spans.count("tasks")
        if (e.taskMetrics != null) spans.count("task_run_ms", e.taskMetrics.executorRunTime)
      }
  }

  // actions of the window; their named observations are read at close,
  // when every job they started has finished (a `toLocalIterator` action
  // reports success before its rows are pulled)
  private val actions = new ConcurrentLinkedQueue[QueryExecution]()

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (open) {
        actions.add(qe)
        spans.count("actions")
        spans.addNanos("exec", durationNs)
        qe.tracker.phases.values.foreach(p => spans.addNanos("planning", p.durationMs * 1000000L))
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Named single-count observations of the window's actions, by name:
    * the largest count any action reported (a plan executed twice
    * reports the same count twice). Filled by `close`. */
  @volatile var observed: Map[String, Long] = Map.empty

  def start(): Unit = { spans.reset(); actions.clear(); fromMs = System.currentTimeMillis(); toMs = Long.MaxValue; open = true }

  /** End the window and return its figures, each divided by `units`
    * (micro-batches or query executions) except the busy fraction. */
  def close(units: Long, cores: Int): Map[String, Double] = {
    val end = System.currentTimeMillis()
    Thread.sleep(500) // let the listener bus deliver the window's events
    toMs = end
    open = false
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    val n = math.max(units, 1L).toDouble
    val wallMs = math.max(end - fromMs, 1L).toDouble
    observed = actions.asScala.toSeq
      .flatMap(_.observedMetrics.collect {
        case (k, r) if r.length == 1 && r.get(0).isInstanceOf[java.lang.Long] => k -> r.getLong(0)
      })
      .groupMapReduce(_._1)(_._2)(math.max)
    actions.clear()
    Map(
      "spark.jobs" -> spans.countOf("jobs") / n,
      "spark.stages" -> spans.countOf("stages") / n,
      "spark.tasks" -> spans.countOf("tasks") / n,
      "spark.shuffle_bytes" -> spans.countOf("shuffle_bytes") / n,
      "spark.spill_bytes" -> spans.countOf("spill_bytes") / n,
      "spark.task_busy_frac" -> spans.countOf("task_run_ms") / (wallMs * cores),
      "catalyst.planning_ms" -> spans.msOf("planning") / n,
      "catalyst.exec_ms" -> spans.msOf("exec") / n)
  }
}

object Layers {
  /** Every per-layer metric of BENCHMARK.json, zero when a workload does
    * not exercise that layer. */
  val Zero: Map[String, Double] = (Seq(
    "streaming.trigger_ms", "streaming.planning_ms", "streaming.wal_ms",
    "streaming.state_commit_ms", "streaming.state_rows", "streaming.state_bytes",
    "deltas.consolidate_ms", "deltas.pull_ms", "deltas.rows_in", "deltas.rows_out",
    "sink.txn_ms", "sink.txn_db_ms", "sink.rows_inserted", "sink.rows_retracted", "sink.idempotent_skips",
    "jdbc.connects", "jdbc.connect_ms", "jdbc.commit_ms",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_bytes",
    "spark.spill_bytes", "spark.task_busy_frac",
    "catalyst.planning_ms", "catalyst.exec_ms",
    "tables.events_scan_ms", "query.suite_s", "setup.first_s",
    "gen.late_ms.max", "gen.backlog_events.max") ++
    JdbcKinds.flatMap(k => Seq(s"jdbc.stmts.$k", s"jdbc.ms.$k")) ++
    BatchSuite.Suite.map(q => s"query.${q.name}_s") ++
    BatchSuite.Suite.map(_.module).distinct.map(m => s"ops.${m}_s"))
    .map(_ -> 0.0).toMap

  lazy val JdbcKinds: Seq[String] = Seq("select", "insert", "insert_batch", "delete", "update")

  /** JDBC figures per batch from the timing driver's spans of `n` batches. */
  def jdbc(s: Spans, n: Double): Map[String, Double] =
    Map("jdbc.connects" -> s.countOf("connect") / n,
      "jdbc.connect_ms" -> s.msOf("connect") / n,
      "jdbc.commit_ms" -> s.msOf("commit") / n) ++
      JdbcKinds.flatMap(k => Seq(s"jdbc.stmts.$k" -> s.countOf(k) / n,
        s"jdbc.ms.$k" -> s.msOf(k) / n))

  /** `Tables.events` (scan plus envelope normalisation) into the `noop`
    * sink, median of three, in milliseconds. */
  def eventsScanMs(spark: SparkSession, dataDir: String): Double =
    Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      graft.core.Tables.events(spark, dataDir).write.format("noop").mode("overwrite").save()
      Stats.ms(t0, System.nanoTime())
    })
}
