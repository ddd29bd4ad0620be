package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.ops.{Cms, Stores}
import graft.streaming.StoreLoop

/** Continuously-maintained frequency sketch: per-batch cell appends sum
  * to the one-shot sketch, and the marker (not the algebra — sum is not
  * idempotent) carries replay safety. */
class CmsStreamSpec extends SparkTestBase {
  import spark.implicits._

  private val D = 4; private val W = 1024

  test("two-batch live run: merged store sketch equals the one-shot; probes see totals") {
    implicit val sqlCtx = spark.sqlContext
    val store = java.nio.file.Files.createTempDirectory("cmss").toString + "/st"
    val mem = MemoryStream[String]
    val q = StoreLoop.writer(mem.toDF().toDF("v"))(
        Cms.storeAppend(_, store, _, "v", D, W))((_, _) => ())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("cmss_ckpt").toString)
      .start()
    val b0 = (1 to 60).flatMap(i => Seq.fill(2)(s"t$i"))
    val b1 = (30 to 90).map(i => s"t$i")
    try {
      mem.addData(b0); q.processAllAvailable()
      mem.addData(b1); q.processAllAvailable()
    } finally q.stop()
    val merged = Cms.fromStore(spark, store)
    val oneShot = Cms.build((b0 ++ b1).toDF("v"), "v", D, W)
    assert(merged.exceptAll(oneShot).isEmpty && oneShot.exceptAll(merged).isEmpty,
      "summed batch cells must reconstruct the one-shot sketch")
    // a mid-range probe saw 2 occurrences in b0 + 1 in b1
    val est = Cms.probe(Seq("t45").toDF("v"), merged, D, W)
      .select("est").as[Long].head()
    assert(est >= 3L)
    val tags = spark.read.parquet(store).select("tag").distinct()
      .as[String].collect().sorted.toSeq
    assert(tags === Seq(Stores.batchTag(0L), Stores.batchTag(1L)))
  }
}
