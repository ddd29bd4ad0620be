package graft

import java.io.File
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager}
import graft.sink.{ColumnSpec, JdbcDeltaSink, TableSpec}
import graft.streaming.{Delta, DeltaPipeline, LocalCheckpointFileManager, Monotonic}

/** A dashboard reading with its envelope's source and offset. */
case class SourcedReading(machine: String, status: String, since: Long,
                          source: String, offset: Long)

/** A checkpoint written by Spark's default file manager restarts under
  * [[LocalCheckpointFileManager]] and back again, on both state-store
  * providers: the restarted view, batch id and offsets equal one
  * uninterrupted run over the same events (the [[RestartSpec]] shape on
  * the monotonic dashboard view). */
class CheckpointSwitchSpec extends SparkTestBase {
  import spark.implicits._

  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val providers = Seq(
    "hdfs" -> "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "rocksdb" -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Six epochs, one file each: readings of three machines from two
    * sources, some of them stale. */
  private val epochs: Seq[Seq[SourcedReading]] = {
    val rnd = new scala.util.Random(7)
    var offset = 0L
    (0 until 6).map { _ =>
      (0 until 5).map { _ =>
        offset += 1
        SourcedReading(s"m${rnd.nextInt(3)}", if (rnd.nextBoolean()) "idle" else "working",
          rnd.nextInt(100).toLong, s"src${offset % 2}", offset)
      }
    }
  }

  private def withConf[A](settings: (String, Option[String])*)(body: => A): A = {
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    def set(kvs: Seq[(String, Option[String])]): Unit =
      kvs.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    set(settings)
    try body finally set(prev)
  }

  private final class Run(name: String) {
    val src: String = Files.createTempDirectory(s"graft-switch-src-$name").toString
    val ckpt: String = Files.createTempDirectory(s"graft-switch-ckpt-$name").toString
    val sink = new JdbcDeltaSink(s"jdbc:derby:memory:switch_$name;create=true",
      TableSpec("dash", 1, Seq(ColumnSpec("machine", "VARCHAR(8)"),
        ColumnSpec("status", "VARCHAR(8)"), ColumnSpec("since", "BIGINT"))))

    def land(from: Int, until: Int): Unit = (from until until).foreach { i =>
      epochs(i).toDF().coalesce(1).write.mode("append").parquet(src)
    }

    /** Drain every landed file, one micro-batch per file. */
    def drain(): Unit = {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val readings = spark.readStream.schema(epochs.head.toDF().schema)
        .option("maxFilesPerTrigger", 1).parquet(src).as[SourcedReading]
      val view = Monotonic.maxByStream[SourcedReading, String](
        readings.map(Delta(_, 1L)), _.machine)(
        Ordering.by(r => (r.since, r.status, r.offset)), implicitly, implicitly, implicitly)
      val deltas = view.toDF().select(col("record.machine"), col("record.status"),
        col("record.since"), col("mult"),
        col("record.source").as("_source"), col("record.offset").as("_offset"))
      val q = DeltaPipeline.start(deltas, sink, ckpt, Trigger.AvailableNow())
      try q.awaitTermination(120000) finally q.stop()
    }

    def result: (Set[Seq[Any]], Option[Long], Map[String, Long]) =
      (sink.readRows().toSet, sink.lastBatchId(), sink.getOffsets())

    def crcFiles(log: String): Set[String] =
      Option(new File(ckpt, log).list()).toSeq.flatten.filter(_.endsWith(".crc")).toSet
  }

  private val defaultManager = managerKey -> None
  private val localManager = managerKey -> Some(classOf[LocalCheckpointFileManager].getName)

  for ((name, provider) <- providers)
    test(s"checkpoint restarts across the file-manager switch on $name state") {
      withConf(providerKey -> Some(provider)) {
        val oneShot = new Run(s"${name}_once")
        oneShot.land(0, 6)
        oneShot.drain()
        val expected = oneShot.result
        assert(expected._2 === Some(5L), "one micro-batch per file")
        assert(expected._1.size === 3)

        val switched = new Run(s"${name}_switched")
        withConf(defaultManager) {
          assert(CheckpointFileManager.create(new Path(switched.ckpt),
            spark.sessionState.newHadoopConf()).isInstanceOf[FileContextBasedCheckpointFileManager])
          switched.land(0, 2); switched.drain()
        }
        assert(switched.crcFiles("offsets") === Set(".0.crc", ".1.crc"),
          "Spark's default manager wrote the first two batches")
        withConf(localManager) { switched.land(2, 4); switched.drain() }
        assert(switched.crcFiles("offsets") === Set(".0.crc", ".1.crc"),
          "the local manager wrote batches 2 and 3 without checksum sidecars")
        withConf(defaultManager) { switched.land(4, 6); switched.drain() }
        assert(switched.crcFiles("offsets") === Set(".0.crc", ".1.crc", ".4.crc", ".5.crc"))
        assert(switched.result === expected)
      }
    }
}
