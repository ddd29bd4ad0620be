package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.sql.types._
import graft.ops.Stores
import graft.streaming.SimHashStream

/** The SimHash family's closed-loop streaming story: per-batch
  * emissions union to the one-shot [[graft.ops.Dedup.simhashNearDup]],
  * the store records ordered batch tags, and a checkpoint
  * kill-and-restart (crash after the append, before the streaming
  * commit — the worst at-least-once window) converges to the
  * uninterrupted run ([[FingerprintRestartSpec]] precedent). */
class SimHashStreamSpec extends SparkTestBase {
  import spark.implicits._

  // near-dup groups: identical text → hamming 0; distinct token sets
  // land far apart in 48-bit simhash space
  private val tA = (1 to 40).map(i => s"alpha$i").mkString(" ")
  private val tB = (1 to 40).map(i => s"beta$i").mkString(" ")
  private val tC = (1 to 40).map(i => s"gamma$i").mkString(" ")

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").as[(Long, Long)].collect().toSet

  test("two-batch live run: emission union equals one-shot; store tags are the batch tags") {
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("sh_live").toString + "/st"
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Map.empty[Long, Set[(Long, Long)]]
    val q = SimHashStream.selfMaintaining(
        mem.toDF().toDF("doc_id", "text"), store) { (bid, pairs) =>
        got(bid) = pairsOf(pairs)
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("sh_ckpt").toString)
      .start()
    val batch0 = Seq(1L -> tA, 2L -> tB)
    val batch1 = Seq(3L -> tA, 4L -> tC, 5L -> tB) // 3 dups 1, 5 dups 2
    try {
      mem.addData(batch0); q.processAllAvailable()
      mem.addData(batch1); q.processAllAvailable()
    } finally q.stop()
    // batch 0: no pairs (A and B are far apart); batch 1: cross pairs
    // against the store — each unordered pair once, in its later doc's batch
    assert(got(0L) === Set.empty[(Long, Long)], s"batch0 ${got(0L)}")
    assert(got(1L) === Set(1L -> 3L, 2L -> 5L), s"batch1 ${got(1L)}")
    val oneShot = pairsOf(graft.ops.Dedup.simhashNearDup(
      (batch0 ++ batch1).toDF("doc_id", "text")))
    assert((got(0L) ++ got(1L)) === oneShot,
      "union of streamed emissions must equal the one-shot pair set")
    // store rows carry the zero-padded batch tags in arrival order
    val tags = spark.read.parquet(store).select("tag").distinct()
      .as[String].collect().sorted.toSeq
    assert(tags === Seq(Stores.batchTag(0L), Stores.batchTag(1L)))
  }

  test("zero-padded tags keep lexicographic order past ten batches") {
    assert(Stores.batchTag(9L) < Stores.batchTag(10L),
      "bare ids would sort batch_10 < batch_9 and break the earlier-tag cut")
  }

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  test("crash after append, before checkpoint commit: restart converges to the uninterrupted run") {
    val root = java.nio.file.Files.createTempDirectory("sh_restart").toString
    val batch0 = Seq(1L -> tA, 2L -> tB)
    val batch1 = Seq(3L -> tA, 4L -> tC)

    def feed(in: String, name: String, rows: Seq[(Long, String)]): Unit = {
      val stage = s"$root/stage-$name"
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(stage)
      new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.copy(f.toPath,
            java.nio.file.Paths.get(in, s"$name-$i.parquet"))
        }
    }

    def run(store: String, in: String, ckpt: String, crash: Boolean)
        : Map[Long, Set[(Long, Long)]] = {
      new java.io.File(in).mkdirs()
      val out = scala.collection.mutable.Map.empty[Long, Set[(Long, Long)]]
      @volatile var armed = crash
      def start() = SimHashStream.selfMaintaining(
          spark.readStream.schema(schema).parquet(in), store) { (bid, pairs) =>
          val r = pairsOf(pairs)
          if (bid == 1L && armed) {
            armed = false
            throw new RuntimeException("injected crash: append done, checkpoint commit not")
          }
          out(bid) = r
        }.option("checkpointLocation", ckpt).start()
      feed(in, "b0", batch0)
      val q1 = start()
      q1.processAllAvailable()
      feed(in, "b1", batch1)
      if (crash) {
        intercept[StreamingQueryException] { q1.processAllAvailable() }
        assert(!q1.isActive, "query must have died on the injected crash")
        val q2 = start()
        try q2.processAllAvailable() finally q2.stop()
      } else {
        try q1.processAllAvailable() finally q1.stop()
      }
      if (q1.isActive) q1.stop()
      out.toMap
    }

    val crashed = run(s"$root/store", s"$root/inA", s"$root/ckpt", crash = true)
    val clean = run(s"$root/storeRef", s"$root/inB", s"$root/ckptRef", crash = false)
    assert(crashed === clean,
      s"replayed batch must emit the uninterrupted run's pairs: $crashed vs $clean")
    assert(crashed(1L) === Set(1L -> 3L), "the cross pair must survive the replay")
    def storeRows(p: String) =
      spark.read.parquet(p).select("id", "sh", "tag")
        .as[(Long, Long, String)].collect().sorted.toSeq
    assert(storeRows(s"$root/store") === storeRows(s"$root/storeRef"),
      "store after crash+restart must equal the uninterrupted store bit-for-bit")
  }
}
