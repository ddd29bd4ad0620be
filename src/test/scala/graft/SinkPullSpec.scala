package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sink.{ColumnSpec, DeltaBatchSink, JdbcDeltaSink, TableSpec}
import graft.streaming.DeltaPipeline
import SinkPullSpec.Streamed

/** How the JDBC delta sink pulls a micro-batch's rows to the driver:
  * Spark jobs per batch inside a real stateful streaming query (whose
  * session Spark runs with adaptive execution off), and the byte bound on
  * each pulled partition. */
class SinkPullSpec extends SparkTestBase {

  private val Tag = "graft.test.sinkpull"
  private val Aqe = "spark.sql.adaptive.enabled"

  private val spec = TableSpec("test_record", 1, Seq(
    ColumnSpec("a", "VARCHAR(64)", index = true), ColumnSpec("b", "BIGINT")))

  /** Spark jobs started under each value of the [[Tag]] local property. */
  private object Jobs extends SparkListener {
    private val counts = new ConcurrentHashMap[String, AtomicInteger]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Tag)))
        .foreach(t => counts.computeIfAbsent(t, _ => new AtomicInteger).incrementAndGet())
    def of(tag: String): Int = {
      ListenerBusDrain(spark.sparkContext)
      Option(counts.get(tag)).fold(0)(_.get)
    }
  }

  override def beforeAll(): Unit = { super.beforeAll(); spark.sparkContext.addSparkListener(Jobs) }
  override def afterAll(): Unit = { spark.sparkContext.removeSparkListener(Jobs); super.afterAll() }

  /** Sets session confs for `body` and restores exactly what was set. */
  private def withConf[A](settings: (String, String)*)(body: => A): A = {
    val prev = settings.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def tagged[A](tag: String)(body: => A): A = {
    spark.sparkContext.setLocalProperty(Tag, tag)
    try body finally spark.sparkContext.setLocalProperty(Tag, null)
  }

  /** `sink` behind a writer that tags each batch's jobs `run/batchId` and
    * records the AQE setting of the batch's session before and after the
    * sink's writer ran. */
  private final class Tagged(sink: JdbcDeltaSink, run: String) extends DeltaBatchSink {
    val aqeSeen = new ConcurrentLinkedQueue[(String, String)]()
    def bootstrap(): Boolean = sink.bootstrap()
    def foreachBatchWriter(): (DataFrame, Long) => Unit = {
      val write = sink.foreachBatchWriter()
      (df, batchId) => {
        val before = df.sparkSession.conf.get(Aqe)
        val sc = df.sparkSession.sparkContext
        sc.setLocalProperty(Tag, s"$run/$batchId")
        try write(df, batchId) finally sc.setLocalProperty(Tag, null)
        aqeSeen.add(before -> df.sparkSession.conf.get(Aqe))
      }
    }
  }

  private def sorted(rows: Seq[Seq[Any]]): Seq[String] = rows.map(_.mkString("|")).sorted

  /** Three micro-batches of a stateful stream (`dropDuplicates` on `id`)
    * through `DeltaPipeline.start` into a fresh sink, at `parts` shuffle
    * partitions; `sourced` adds `_source`/`_offset` columns. */
  private def streamed(parts: Int, sourced: Boolean): Streamed = {
    import spark.implicits._
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val run = s"p${parts}_${if (sourced) "src" else "plain"}"
    val sink = new JdbcDeltaSink(s"jdbc:derby:memory:sinkpull_$run;create=true", spec)
    val writer = new Tagged(sink, run)
    val mem = MemoryStream[(Long, String, Long, Long)]
    val rows = mem.toDF().toDF("id", "a", "b", "mult").dropDuplicates("id")
    val deltas =
      if (sourced) rows.select(col("a"), col("b"), col("mult"),
        lit("s").as("_source"), col("id").as("_offset"))
      else rows.drop("id")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sinkpull").toString
    withConf("spark.sql.shuffle.partitions" -> parts.toString) {
      val q = DeltaPipeline.start(deltas, writer, ckpt, Trigger.ProcessingTime(0L))
      try {
        mem.addData((1 to 12).map(i => (i.toLong, s"k$i", i.toLong, 1L)))
        q.processAllAvailable()
        mem.addData((1 to 6).flatMap(i => Seq((12L + 2 * i - 1, s"k$i", i.toLong, -1L),
          (12L + 2 * i, s"k$i", i + 100L, 1L))))
        q.processAllAvailable()
        mem.addData((25L, "n1", 7L, 1L), (26L, "n1", 7L, 1L), (27L, "k7", 7L, -1L))
        q.processAllAvailable()
      } finally q.stop()
    }
    Streamed((0 to 2).map(id => Jobs.of(s"$run/$id")), writer.aqeSeen.asScala.toSeq,
      sorted(sink.readRows()), if (sourced) sink.getOffsets() else Map.empty)
  }

  test("JdbcDeltaSink writer: jobs per micro-batch do not depend on the shuffle partition count") {
    val want = sorted((1 to 6).map(i => Seq(s"k$i", i + 100L)) ++
      (8 to 12).map(i => Seq(s"k$i", i.toLong)) ++ Seq.fill(2)(Seq("n1", 7L)))
    Seq(false, true).foreach { sourced =>
      val at2 = streamed(2, sourced)
      val at8 = streamed(8, sourced)
      val what = if (sourced) "with _source" else "without _source"
      assert(at2.jobs === at8.jobs, s"$what: jobs per batch at 2 vs 8 shuffle partitions")
      // the offsets query (with _source), the consolidation's map stage
      // and one job pulling the coalesced rows
      assert(at2.jobs.forall(_ <= (if (sourced) 3 else 2)), s"$what: ${at2.jobs}")
      // Spark ran the batch with AQE off, and the writer left it off
      assert((at2.aqe ++ at8.aqe) === Seq.fill(6)(("false", "false")), what)
      assert(at2.rows === want && at8.rows === want, what)
      if (sourced) assert(at2.offsets === Map("s" -> 27L) && at8.offsets === Map("s" -> 27L))
    }
  }

  test("pull: a tiny advisory size pulls a batch over several jobs; table and UPDATEs unchanged") {
    import spark.implicits._
    val keys = 20
    def seeded(url: String) = {
      val sink = new JdbcDeltaSink(url, spec, rowBatchSize = 2)
      sink.bootstrap()
      sink.applyDeltas(Map.empty, 0L, (1 to keys + 1).map(i => (Seq(s"k$i", i.toLong), 1L)))
      sink
    }
    // every key's retraction and re-insertion; a chunk holds 2 tuples, so
    // a pair is one UPDATE only when its rows arrive next to each other
    val churn: Seq[(String, Option[Long], Long)] =
      (1 to keys).map(i => (s"k$i", Some(i.toLong), -1L)) ++
        (1 to keys).map(i => (s"k$i", Some(i + 100L), 1L))
    // unpaired retraction, unconsolidated duplicates, a net-zero pair, NULL
    val mixed: Seq[(String, Option[Long], Long)] = Seq(("k21", Some(21L), -1L),
      ("n1", Some(7L), 1L), ("n1", Some(7L), 1L), ("z", Some(5L), 1L), ("z", Some(5L), -1L),
      ("m", None, 1L), ("k3", Some(103L), -1L), ("k3", Some(3L), 1L))

    val sink = seeded(TestJdbc.Counting.url("jdbc:derby:memory:sinkpull_bound;create=true"))
    def sent(verb: String) = TestJdbc.Counting.sent(verb, "test_record")
    val jobs = withConf(Aqe -> "false", "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false") {
      Seq(churn, mixed).zipWithIndex.map { case (batch, i) =>
        TestJdbc.Counting.reset()
        tagged(s"bound/$i")(sink.foreachBatchWriter()(batch.toDF("a", "b", "mult"), i + 1L))
        assert(spark.conf.get(Aqe) === "false", "the writer restores the AQE setting")
        if (i == 0) assert((sent("UPDATE"), sent("DELETE"), sent("INSERT")) === ((keys.toLong, 0L, 0L)))
        Jobs.of(s"bound/$i")
      }
    }
    // one map stage, then one job per byte-bounded partition
    assert(jobs.forall(_ > 2), s"jobs per batch: $jobs")

    val reference = seeded("jdbc:derby:memory:sinkpull_bound_ref;create=true")
    (churn ++ mixed).zipWithIndex.foreach { case ((a, b, mult), i) =>
      reference.applyDeltas(Map.empty, i + 1L, Seq((Seq(a, b.map(Long.box).orNull), mult)))
    }
    assert(sorted(sink.readRows()) === sorted(reference.readRows()))
  }
}

object SinkPullSpec {
  /** One streamed run: jobs per batch, the AQE setting each batch's
    * session had before and after the writer, the table and its offsets. */
  final case class Streamed(jobs: Seq[Int], aqe: Seq[(String, String)],
                            rows: Seq[String], offsets: Map[String, Long])
}
