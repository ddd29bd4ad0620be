package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.ops.{Multimodal, Stores}
import graft.streaming.ImageDupStream

/** The image modality's closed-loop streaming near-dup story: per-batch
  * emissions union to the one-shot [[graft.ops.Multimodal.imageNearDup]],
  * each unordered pair surfaces once (in its later image's batch), and a
  * replayed batch recomputes the identical emission against the
  * strictly-earlier store. */
class ImageDupStreamSpec extends SparkTestBase {
  import spark.implicits._

  // hash-exact fixtures: a left-right ramp sets all 64 dHash bits, a
  // flat image none, and brightening pixel (0,0) of the ramp flips
  // exactly bit 0 — so pairwise Hamming distances are 0/1/63/64 by
  // construction, no decode-side surprises
  private val imgA = Multimodal.encodeBmp(9, 8, (x, _) => (x * 28) * 0x010101)
  private val imgB = Multimodal.encodeBmp(9, 8, (_, _) => 0x808080)
  private val imgA2 = Multimodal.encodeBmp(9, 8, (x, y) =>
    if (x == 0 && y == 0) 250 * 0x010101 else (x * 28) * 0x010101)

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
    df.select("id_a", "id_b", "hamming").as[(Long, Long, Long)].collect().toSet

  test("two-batch live run: emission union equals one-shot imageNearDup") {
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("im_live").toString + "/st"
    val mem = MemoryStream[(Long, Array[Byte])]
    val got = scala.collection.mutable.Map.empty[Long, Set[(Long, Long, Long)]]
    val q = ImageDupStream.selfMaintaining(
        mem.toDF().toDF("media_id", "content"), store) { (bid, pairs) =>
        got(bid) = pairsOf(pairs)
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("im_ckpt").toString)
      .start()
    val batch0: Seq[(Long, Array[Byte])] = Seq(1L -> imgA, 2L -> imgB)
    val batch1: Seq[(Long, Array[Byte])] =
      Seq(3L -> imgA, 4L -> imgA2, 5L -> imgB)
    try {
      mem.addData(batch0); q.processAllAvailable()
      mem.addData(batch1); q.processAllAvailable()
    } finally q.stop()
    assert(got(0L) === Set.empty[(Long, Long, Long)],
      s"ramp vs flat are Hamming-64 apart, got ${got(0L)}")
    assert(got(1L) === Set((3L, 4L, 1L), (1L, 3L, 0L), (1L, 4L, 1L), (2L, 5L, 0L)),
      s"got ${got(1L)}")
    val oneShot = pairsOf(Multimodal.imageNearDup(
      (batch0 ++ batch1).toDF("media_id", "content"), maxHamming = 3))
    assert((got(0L) ++ got(1L)) === oneShot,
      "union of streamed emissions must equal the one-shot pair set")
  }

  test("crash after append, before checkpoint commit: restart converges to the uninterrupted run") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("media_id", LongType), StructField("content", BinaryType)))
    val root = java.nio.file.Files.createTempDirectory("im_restart").toString
    val batch0: Seq[(Long, Array[Byte])] = Seq(1L -> imgA, 2L -> imgB)
    val batch1: Seq[(Long, Array[Byte])] = Seq(3L -> imgA2, 4L -> imgB)

    def feed(in: String, name: String, rows: Seq[(Long, Array[Byte])]): Unit = {
      val stage = s"$root/stage-$name"
      rows.toDF("media_id", "content").coalesce(1).write.mode("overwrite").parquet(stage)
      new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach { case (f, i) =>
          java.nio.file.Files.copy(f.toPath,
            java.nio.file.Paths.get(in, s"$name-$i.parquet"))
        }
    }

    def run(store: String, in: String, ckpt: String, crash: Boolean)
        : Map[Long, Set[(Long, Long, Long)]] = {
      new java.io.File(in).mkdirs()
      val out = scala.collection.mutable.Map.empty[Long, Set[(Long, Long, Long)]]
      @volatile var armed = crash
      def start() = ImageDupStream.selfMaintaining(
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
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q1.processAllAvailable()
        }
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
    assert(crashed(1L) === Set((1L, 3L, 1L), (2L, 4L, 0L)),
      "both cross pairs must survive the replay")
    def storeRows(p: String) =
      spark.read.parquet(p).select("id", "dhash", "tag")
        .as[(Long, Long, String)].collect().sorted.toSeq
    assert(storeRows(s"$root/store") === storeRows(s"$root/storeRef"),
      "store after crash+restart must equal the uninterrupted store bit-for-bit")
  }

  test("replay recomputes the identical emission; undecodable rows drop out") {
    val store = java.nio.file.Files.createTempDirectory("im_rp").toString + "/st"
    val b0 = Seq(1L -> imgA, 2L -> imgB).toDF("media_id", "content")
    val junk: Array[Byte] = "not an image".getBytes("UTF-8")
    val b1 = Seq(3L -> imgA2, 4L -> junk).toDF("media_id", "content")
    val e0 = Multimodal.dhashStoreAppend(b0, store, Stores.batchTag(0L))
    assert(pairsOf(e0) === Set.empty[(Long, Long, Long)]); e0.unpersist()
    val e1 = Multimodal.dhashStoreAppend(b1, store, Stores.batchTag(1L))
    assert(pairsOf(e1) === Set((1L, 3L, 1L)),
      "junk row contributes nothing; A2 pairs with the stored ramp")
    e1.unpersist()
    // replay of batch 1: append no-ops on the marker, the emission reads
    // strictly-earlier tags only -> identical pairs, store unchanged
    val rows = spark.read.parquet(store).count()
    val e1r = Multimodal.dhashStoreAppend(b1, store, Stores.batchTag(1L))
    assert(pairsOf(e1r) === Set((1L, 3L, 1L))); e1r.unpersist()
    assert(spark.read.parquet(store).count() === rows,
      "redelivered batch must not double-append signatures")
  }
}
