package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import org.apache.spark.sql.SparkSession

/** One frozen suite member: its `SparkEntry` name, the corpus table it
  * reads, and the `ops` module that does its work ("sql" when the query
  * is plain DataFrame code in `graft.queries`). */
final case class SuiteQuery(name: String, table: String, module: String)

/** batch_suite: warm `SparkEntry` queries over the fixed corpus, timed
  * with `count()` as `graft.Bench` does. Results are written once, before
  * the timed part, for the DuckDB oracle comparison. */
object BatchSuite {

  val Suite: Seq[SuiteQuery] = Seq(
    SuiteQuery("q_dashboard", "events", "sql"),
    SuiteQuery("q_usage", "events", "sql"),
    SuiteQuery("q_except", "events", "Deltas"),
    SuiteQuery("q_asof", "events", "AsOf"),
    SuiteQuery("q_ab_readout", "events", "Abtest"),
    SuiteQuery("q_katz", "lineitem", "Graph"))


  private def impl(name: String) = graft.SparkEntry.queries(name)

  private def timeCount(spark: SparkSession, ctx: Ctx, q: SuiteQuery): Double = {
    val t0 = System.nanoTime()
    impl(q.name)(spark, ctx.dataDir).count()
    val s = (System.nanoTime() - t0) / 1e9
    spark.catalog.clearCache()
    s
  }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def run(ctx: Ctx): Outcome = {
    val runStart = System.nanoTime()
    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 0 until ctx.setups) {
      ctx.stop()
      val t0 = System.nanoTime()
      spark = ctx.freshSession()
      timeCount(spark, ctx, Suite.head)
      setupS += (System.nanoTime() - t0) / 1e9
    }

    val setupEnd = System.nanoTime()
    // untimed: each result written once for the oracle, which also warms
    // every query's code paths before the timed part
    val results = ctx.dir("results")
    val failures = LinkedHashMap.empty[String, String]
    Suite.foreach { sq =>
      try impl(sq.name)(spark, ctx.dataDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$results/${sq.name}")
      catch { case e: Throwable => failures(sq.name) = s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      spark.catalog.clearCache()
    }
    val oracle = graft.queries.Queries.oracleSqlFor(ctx.dataDir)
    Files.writeString(Paths.get(s"$results/oracle_sql.json"),
      Suite.map(sq => s"${q(sq.name)}: ${q(oracle(sq.name))}").mkString("{", ",\n", "}"))

    val rows: Map[String, Long] = Suite.map(_.table).distinct.map { t =>
      t -> spark.read.parquet(s"${ctx.dataDir}/$t.parquet").count()
    }.toMap

    val dumpEnd = System.nanoTime()
    // one timed pass: every query's second execution in this JVM. A second
    // pass would run faster again (the JIT is still warming), and a varying
    // pass count would then move the figures more than the program does.
    val trace = if (ctx.trace) Some(ctx.startTrace()) else None
    val dumpFailed = failures.size.toLong
    val perQuery = LinkedHashMap.empty[SuiteQuery, Double]
    Suite.filterNot(sq => failures.contains(sq.name)).foreach { sq =>
      try perQuery(sq) = timeCount(spark, ctx, sq)
      catch { case e: Throwable => failures(sq.name) = e.toString }
    }
    val timedEnd = System.nanoTime()
    val timedFailed = failures.size - dumpFailed
    val units = perQuery.size.toLong
    val suiteS = perQuery.values.sum
    val inputRows = perQuery.keysIterator.map(sq => rows(sq.table)).sum
    // a suite pass refreshes its results in order: result k is as fresh as
    // the time from the pass's start to its own completion
    val refreshed = perQuery.values.scanLeft(0.0)(_ + _).tail.map(_ * 1000)

    val layers = trace.map(_.close(units, ctx.cores)).getOrElse(Map.empty) ++ (
      if (!ctx.trace) Map.empty
      else Map("query.suite_s" -> suiteS, "setup.first_s" -> setupS.head,
        "tables.events_scan_ms" -> Layers.eventsScanMs(spark, ctx.dataDir)) ++
        perQuery.map { case (sq, s) => s"query.${sq.name}_s" -> s } ++
        perQuery.groupBy(_._1.module).map { case (m, qs) => s"ops.${m}_s" -> qs.values.sum })
    Outcome(Suite.size + units + timedFailed, dumpFailed + timedFailed,
      Map("events_per_s" -> inputRows / suiteS,
        "batch_ms.p50" -> Stats.median(perQuery.values.map(_ * 1000)),
        "freshness_ms.p50" -> Stats.median(refreshed),
        "freshness_ms.p90" -> Stats.quantile(refreshed, 0.9),
        "setup_s" -> Stats.median(setupS)),
      layers,
      // the oracle comparison runs after the JVM exits (run.py); here
      // only "every query produced a result"
      Map("all_queries_ran" -> failures.isEmpty),
      Map("setup_samples_s" -> setupS.mkString(","),
        "query_ms" -> perQuery.map { case (sq, x) => f"${sq.name}:${x * 1000}%.0f" }.mkString(" "),
        "phases_s" -> Seq(setupEnd - runStart, dumpEnd - setupEnd, timedEnd - dumpEnd)
          .map(x => f"${x / 1e9}%.1f").mkString(",")) ++
        failures.map { case (n, e) => s"failure.$n" -> e })
  }
}
