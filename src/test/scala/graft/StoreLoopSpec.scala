package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import graft.ops._
import graft.streaming.{DqStream, KsDriftStream, StoreLoop}
import graft.streaming.DqStream.{DupKeyCheck, NonPositiveCheck}

/** At-least-once delivery through the one store loop: for every store
  * kind the loop maintains, a batch delivered twice under the same id
  * leaves the store exactly as one delivery does, the redelivery's step
  * result equals the first one's, and batch tags sort in batch order
  * across the 9 → 10 digit boundary. */
class StoreLoopSpec extends SparkTestBase {
  import spark.implicits._

  /** A store kind: its step over store `path`, and its read. */
  private case class Kind(name: String,
                          step: String => (DataFrame, String) => Any,
                          read: String => DataFrame)

  private val dqChecks = Seq(NonPositiveCheck("nonpos_y", "y"),
    DupKeyCheck("dup_g", "g"))

  private val kinds = Seq(
    Kind("Hll", p => Hll.registerStoreAppend(_, p, _, Seq("g"), "d", 64),
      Hll.estimateFromStore(spark, _, Seq("g"), 64)),
    Kind("Cms", p => Cms.storeAppend(_, p, _, "d", 4, 64),
      Cms.fromStore(spark, _)),
    Kind("Fd", p => Profile.fdStoreAppend(_, p, _, "d", "p"),
      Profile.fdFromStore(spark, _, "d", "p")),
    Kind("Seasonal", p => Trend.seasonalStoreAppend(_, p, _, Seq("g"), "ts", "y", 3),
      Trend.seasonalFromStore(spark, _, Seq("g"))),
    Kind("Decay", p => Decay.storeAppend(_, p, _, Seq("g"), "ts", 50L),
      Decay.decayedFromStore(spark, _, Seq("g"), 1000L, 50L)),
    Kind("Quantile", p => Quantiles.storeAppend(_, p, _, "v", 4L),
      Quantiles.fromStore(spark, _)),
    Kind("QuantileBy", p => Quantiles.storeAppendBy(_, p, _, Seq("g"), "v", 4L),
      Quantiles.fromStoreBy(spark, _, Seq("g"))),
    Kind("Bootstrap", p => Stats.bootstrapStoreAppend(_, p, _, "u", "v", 8, "s"),
      Stats.bootstrapFromStore(spark, _)),
    Kind("AbMoments", p => Abtest.momentsStoreAppend(_, p, _, "u", "c", "y", "x", "s"),
      Abtest.readoutFromStore(spark, _)),
    Kind("AbQte", p => Abtest.quantileLiftStoreAppend(_, p, _, "u", "y", "s", 2L),
      Abtest.quantileLiftFromStore(spark, _, 2L, Seq(("p50", 1, 2)))),
    Kind("Pca", p => (b, t) => Pca.momentsStored(b.sparkSession, b, "vec", 3, p, t),
      p => { val (n, s, ss) = Pca.momentsOfStore(spark, p, 3)
             Seq((n, s.toSeq, ss.toSeq)).toDF() }),
    Kind("KsDrift", p => KsDriftStream.step(p, "v", 4L, 1L, 2L),
      Quantiles.fromStore(spark, _)),
    Kind("SimHash", p => Dedup.simhashStoreAppend(_, p, _, 3, "u", "text"),
      spark.read.parquet(_)),
    Kind("Dq", p => DqStream.processBatch(_, p, _, dqChecks),
      DqStream.report(spark, _, dqChecks)))

  /** Units `lo..hi` (unit-disjoint batches, as the experiment stores
    * require), with a column for every kind's inputs. */
  private def batch(lo: Long, hi: Long): DataFrame =
    (lo to hi).map(i => (i, s"g${i % 3}", i % 17, i % 4 == 0, i % 7, i % 5,
        i * 10L, s"d${i % 6}", s"p${i % 2}",
        Seq((i % 3).toDouble, (i % 5).toDouble, (i % 7).toDouble),
        s"the quick brown fox ${i % 10} jumps over the lazy dog"))
      .toDF("u", "g", "v", "c", "y", "x", "ts", "d", "p", "vec", "text")

  private val b9 = batch(1L, 40L)
  private val b10 = batch(41L, 80L)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** A step result as comparable text; a returned DataFrame is an
    * emission the loop's caller releases. */
  private def render(result: Any): String = result match {
    case ds: Dataset[_] => try rows(ds.toDF()).mkString("\n") finally ds.unpersist()
    case other => String.valueOf(other)
  }

  kinds.foreach { kind =>
    test(s"StoreLoop redelivery is a no-op and tags sort 9 → 10: ${kind.name}") {
      val dir = java.nio.file.Files.createTempDirectory(s"loop_${kind.name}").toString
      def run(deliveries: Seq[(DataFrame, Long)]): (String, Seq[(Long, String)]) = {
        val path = s"$dir/${deliveries.size}"
        val seen = Seq.newBuilder[(Long, String)]
        val deliver = StoreLoop.batchFn(kind.step(path)) { (id, r: Any) =>
          seen += id -> render(r)
        }
        deliveries.foreach { case (df, id) => deliver(df, id) }
        (path, seen.result())
      }
      val (twice, twiceSeen) = run(Seq(b9 -> 9L, b9 -> 9L, b10 -> 10L))
      val (once, _) = run(Seq(b9 -> 9L, b10 -> 10L))

      assert(rows(kind.read(twice)) === rows(kind.read(once)),
        "a redelivered batch must leave the store read unchanged")
      assert(rows(spark.read.parquet(twice)) === rows(spark.read.parquet(once)),
        "a redelivered batch must append no rows")
      assert(twiceSeen(1) === twiceSeen(0),
        "the redelivery's step result must equal the first delivery's")
      val markers = new java.io.File(twice).list().toSeq
        .filter(_.startsWith("_appended_")).sorted
      assert(markers === Seq(9L, 10L).map(id => s"_appended_${Stores.batchTag(id)}"),
        "tag order must be batch order across 9 → 10")
    }
  }
}
