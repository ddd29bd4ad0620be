package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.core.GraftSession

/** Run settings plus the session and directory plumbing every workload
  * shares. All files go under `out`. */
final class Ctx(val workload: String, val seed: Long, val seconds: Int,
                val trace: Boolean, val cores: Int, val out: String,
                val dataDir: String) {

  /** Set-ups per run; `setup_s` is their median. */
  val setups = 3

  private var session: SparkSession = _
  private var sparkTrace: Option[SparkTrace] = None

  def dir(name: String): String = {
    val d = Paths.get(out, name)
    Files.createDirectories(d)
    d.toAbsolutePath.toString
  }

  /** Start a session at `local[cores]` with shuffle partitions = cores,
    * as `GraftSession.tune` sets them. The previous one must be stopped
    * first (`stop`), outside any timed set-up. */
  def freshSession(): SparkSession = {
    require(session == null, "stop the previous session first")
    session = GraftSession.tune(
      SparkSession.builder().master(s"local[$cores]").appName(s"perfbench-$workload"),
      shufflePartitions = cores)
      .config("spark.local.dir", dir("spark-local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    session.sparkContext.setLogLevel("WARN")
    // listeners go on before any streaming query starts: a query runs on a
    // clone of the session, which copies the listeners registered by then
    sparkTrace = if (trace) Some(new SparkTrace(session)) else None
    session
  }

  def stop(): Unit = if (session != null) { session.stop(); session = null }

  /** The sink's JDBC URL; traced runs go through the timing driver. */
  def jdbcUrl(db: String): String = {
    val plain = Streaming.derbyUrl(db)
    if (trace && JdbcTrace.registered) JdbcTrace.url(plain) else plain
  }

  /** Open the measured window of a traced run on the current session. */
  def startTrace(): SparkTrace = {
    val t = sparkTrace.get
    t.start()
    t
  }
}

/** Benchmark entry point, normally started by `run.py`:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --cores <n> --out <dir> --data <dir>`.
  * Writes `<out>/result.json`: the correctness verdict, the attempted and
  * failed units, every end-to-end and per-layer metric, and the checks. */
object Main {

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "catchup_dashboard" -> Catchup.run,
    "live_usage" -> Live.run,
    "batch_suite" -> BatchSuite.run)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def obj(kvs: Iterable[(String, String)]): String =
    kvs.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val ctx = new Ctx(a("workload"), a("seed").toLong, a("seconds").toInt,
      a("trace") == "1", a("cores").toInt, a("out"), a("data"))
    System.setProperty("derby.stream.error.file", Paths.get(ctx.out, "derby.log").toString)
    val run = Workloads.getOrElse(ctx.workload,
      throw new IllegalArgumentException(s"unknown workload ${ctx.workload}; one of ${Workloads.keys.mkString(", ")}"))
    val o = try run(ctx) finally ctx.stop()
    val layers = if (ctx.trace) Layers.Zero ++ o.layers else Map.empty[String, Double]
    val json = obj(Seq(
      "workload" -> str(ctx.workload),
      "correct" -> o.correct.toString,
      "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString,
      "end_to_end" -> obj(o.endToEnd.map { case (k, v) => k -> num(v) }),
      "per_layer" -> obj(layers.map { case (k, v) => k -> num(v) }),
      "checks" -> obj(o.checks.map { case (k, v) => k -> v.toString }),
      "notes" -> obj(o.notes.map { case (k, v) => k -> str(v) })))
    Files.writeString(Paths.get(ctx.out, "result.json"), json + "\n")
    println(json)
  }
}
