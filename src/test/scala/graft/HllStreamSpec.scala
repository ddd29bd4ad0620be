package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.ops.{Hll, Stores}
import graft.streaming.StoreLoop

/** Continuously-maintained distinct-count sketch: per-batch register
  * appends converge to the one-shot sketch over everything ingested,
  * and redelivery (the at-least-once window) is a no-op twice over —
  * marker-level AND algebra-level (max-merge idempotence). */
class HllStreamSpec extends SparkTestBase {
  import spark.implicits._

  private val M = 256

  test("two-batch live run: store estimate equals the one-shot over the union") {
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("hlls").toString + "/st"
    val mem = MemoryStream[(String, String)]
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = StoreLoop.writer(mem.toDF().toDF("g", "v"))(
        Hll.registerStoreAppend(_, store, _, Seq("g"), "v", M)) {
        (batchId, _) => seen += batchId; ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("hlls_ckpt").toString)
      .start()
    val b0 = (1 to 800).map(i => ("a", s"u$i"))
    val b1 = (400 to 1200).map(i => ("a", s"u$i")) ++
      (1 to 100).map(i => ("b", s"w$i"))
    try {
      mem.addData(b0); q.processAllAvailable()
      mem.addData(b1); q.processAllAvailable()
    } finally q.stop()
    assert(seen.toSeq === Seq(0L, 1L))
    val streamed = Hll.estimateFromStore(spark, store, Seq("g"), M)
      .select("g", "est").as[(String, Double)].collect().toMap
    val oneShot = Hll.estimate(
        Hll.registers((b0 ++ b1).toDF("g", "v"), Seq("g"), "v", M),
        Seq("g"), M)
      .select("g", "est").as[(String, Double)].collect().toMap
    assert(streamed === oneShot,
      "per-batch register appends must reconstruct the one-shot sketch")
    // tags are the zero-padded batch ids
    val tags = spark.read.parquet(store).select("tag").distinct()
      .as[String].collect().sorted.toSeq
    assert(tags === Seq(Stores.batchTag(0L), Stores.batchTag(1L)))
  }

  test("redelivered batch tag is a no-op at both layers") {
    val store = java.nio.file.Files.createTempDirectory("hllr").toString + "/st"
    val rows = (1 to 500).map(i => ("g", s"v$i")).toDF("g", "v")
    Hll.registerStoreAppend(rows, store, Stores.batchTag(0L), Seq("g"), "v", M)
    val before = Hll.estimateFromStore(spark, store, Seq("g"), M)
      .select("est").as[Double].head()
    // marker layer: same tag, same data — no new rows land
    val files1 = spark.read.parquet(store).count()
    Hll.registerStoreAppend(rows, store, Stores.batchTag(0L), Seq("g"), "v", M)
    assert(spark.read.parquet(store).count() === files1)
    // algebra layer: even a FORCED duplicate post (new tag, same batch)
    // cannot move the estimate — max-merge idempotence
    Hll.registerStoreAppend(rows, store, Stores.batchTag(1L), Seq("g"), "v", M)
    val after = Hll.estimateFromStore(spark, store, Seq("g"), M)
      .select("est").as[Double].head()
    assert(before === after)
  }
}
