package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Writing streaming checkpoints starts no processes. Hadoop's local
  * filesystem forks a `readlink` or `chmod` shell per checkpoint file;
  * the session's checkpoint file manager must not reach that code. Forks
  * are recorded with JFR's `jdk.ProcessStart` event and attributed by
  * stack, so processes started by other code do not count:
  *   - on the HDFS-backed provider every checkpoint file goes through the
  *     manager, so no process may start under a Hadoop filesystem either;
  *   - the RocksDB provider copies its SST files through Hadoop's
  *     `FileSystem` directly, outside the manager, which still forks
  *     `chmod`; there only processes started under the manager count.
  * Also out of scope: the RocksDB provider removes its local working
  * directories through Spark's `rm -rf`, and the RocksDB library probes
  * `ldd` once per JVM. */
class CheckpointForkSpec extends SparkTestBase {
  import spark.implicits._

  private val managerFrames = "org.apache.spark.sql.execution.streaming.checkpointing."
  private val providers = Seq(
    ("hdfs", "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
      Seq(managerFrames, "org.apache.hadoop.fs.")),
    ("rocksdb", "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      Seq(managerFrames)))

  /** The commands and stacks of processes started under `body` with a
    * frame in one of `packages`. */
  private def forksUnder(packages: Seq[String])(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally rec.stop()
    val file = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq.flatMap { e =>
        val frames = Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")
        if (frames.exists(f => packages.exists(f.startsWith)))
          Some(s"${e.getString("command")}\n  " + frames.take(12).mkString("\n  "))
        else None
      }
    } finally { rec.close(); Files.deleteIfExists(file) }
  }

  for ((name, provider, packages) <- providers)
    test(s"three checkpointed micro-batches on $name state start no process") {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, provider)
      try {
        val mem = MemoryStream[(String, Long)]
        val ckpt = Files.createTempDirectory(s"graft-fork-ckpt-$name").toString
        var lastBatch = -1L
        val forks = forksUnder(packages) {
          val q = mem.toDF().toDF("k", "v").groupBy("k").agg(Map("v" -> "max"))
            .writeStream.outputMode("update").option("checkpointLocation", ckpt)
            .format("noop").start()
          try (1 to 3).foreach { i =>
            mem.addData(("a", i.toLong), (s"k$i", 1L))
            q.processAllAvailable()
            lastBatch = q.lastProgress.batchId
          } finally q.stop()
        }
        assert(lastBatch === 2L)
        assert(forks.isEmpty, forks.mkString(s"${forks.size} checkpoint forks:\n", "\n", ""))
      } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
}
