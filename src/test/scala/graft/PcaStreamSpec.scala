package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.{Pca, Stores}
import graft.streaming.StoreLoop

/** Streaming moments maintenance: per-batch append, replay safety,
  * and refit-from-store equivalence with the batch fit. */
class PcaStreamSpec extends SparkTestBase {
  import spark.implicits._

  test("micro-batches fold their moments in; refit equals the batch fit") {
    implicit val sqlCtx = spark.sqlContext
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")))
      .as[(Long, Seq[Double])].collect()
    val (half1, half2) = emb.partition(_._1 % 2 == 0)

    val dir = java.nio.file.Files.createTempDirectory("pca_stream").toString
    val store = s"$dir/store"
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = StoreLoop.writer(mem.toDF().toDF("vec_id", "embedding")) {
        (batch, tag) => Pca.momentsStored(batch.sparkSession, batch,
          "embedding", 64, store, batchTag = tag)
      }((_, _) => ())
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      mem.addData(half1.toSeq: _*)
      q.processAllAvailable()
      val (n1, _, _) = Pca.momentsOfStore(spark, store, 64)
      assert(n1 === half1.length)

      mem.addData(half2.toSeq: _*)
      q.processAllAvailable()
      val (n2, _, _) = Pca.momentsOfStore(spark, store, 64)
      assert(n2 === emb.length)

      // a manual replay of batch 0's tag must be a no-op (marker)
      Pca.momentsStored(spark,
        half1.toSeq.toDF("vec_id", "embedding"), "embedding", 64,
        store, batchTag = Stores.batchTag(0L))
      val (n3, _, _) = Pca.momentsOfStore(spark, store, 64)
      assert(n3 === emb.length, "replayed batch must not double-count")

      // refit from the stream-built store ≡ direct one-pass fit
      val fromStore = Pca.fitFromStore(spark, store, 64, 4)
      val direct = Pca.fit(Tables.embeddings(spark, sf0001),
        "embedding", 64, 4)
      assert(fromStore.n === direct.n)
      (0 until 4).foreach { j =>
        assert(math.abs(fromStore.eigvals(j) - direct.eigvals(j)) < 1e-9)
      }
    } finally q.stop()
  }
}
