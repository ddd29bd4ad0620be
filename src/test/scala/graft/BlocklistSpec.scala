package graft

import org.apache.spark.sql.functions._
import graft.ops.Blocklist

class BlocklistSpec extends SparkTestBase {
  import spark.implicits._

  private val terms = Seq(("bad", "cat1"), ("very bad", "cat2"))
    .toDF("term", "category")

  test("unigram and bigram hits count occurrences per category") {
    val docs = Seq(
      (1L, "bad things and very bad things and Bad again"),
      (2L, "nothing to see"),
      (3L, "bad")).toDF("doc_id", "text")
    val out = Blocklist.screen(docs, terms).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    // doc 1: "bad" x3 (normalized lowercase), "very bad" x1
    assert(out((1L, "cat1")) === 3L)
    assert(out((1L, "cat2")) === 1L)
    assert(!out.contains((2L, "cat1")) && !out.contains((2L, "cat2")))
    assert(out((3L, "cat1")) === 1L, "single-token doc: no bigrams, unigram still hits")
  }

  test("null text is skipped; survivors via left_anti") {
    val docs = Seq((1L, "bad"), (2L, null.asInstanceOf[String]), (3L, "fine"))
      .toDF("doc_id", "text")
    val hits = Blocklist.screen(docs, terms)
    val survivors = docs.join(hits, Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long].collect().sorted
    assert(survivors.toSeq === Seq(2L, 3L))
  }

  test("streaming twin: each batch screened with the policy list AS OF that batch") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val store = java.nio.file.Files.createTempDirectory("bl_terms").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("bl_ckpt").toString
    graft.ops.Blocklist.termStoreAppend(
      Seq(("bad", "cat1")).toDF("term", "category"), store, "b0")
    val mem = MemoryStream[(Long, String)]
    val seen = scala.collection.mutable.Map.empty[Long, Set[(Long, String)]]
    val q = graft.streaming.StoreLoop.writer(mem.toDF().toDF("doc_id", "text")) {
        (batch, _) => graft.ops.Blocklist.screenFromStore(batch, store)
      } { (bid, hits) =>
        seen(bid) = hits.collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet
        ()
      }.option("checkpointLocation", ckpt).start()
    mem.addData((1L, "bad and worse"), (2L, "clean"))
    q.processAllAvailable()
    // policy edit BETWEEN batches: add "worse", retract "bad"
    graft.ops.Blocklist.termStoreAppend(
      Seq(("worse", "cat1")).toDF("term", "category"), store, "b1")
    graft.ops.Blocklist.termStoreRetract(
      Seq(("bad", "cat1")).toDF("term", "category"), store, "b1")
    mem.addData((3L, "bad and worse"))
    q.processAllAvailable()
    q.stop()
    assert(seen(0L) === Set((1L, "cat1")), "batch 0 judged by the b0 list")
    assert(seen(1L) === Set((3L, "cat1")),
      "batch 1 hits 'worse' only — the edit took effect with no restart")
    // current-list algebra: net-positive only
    val cur = graft.ops.Blocklist.currentTerms(spark, store)
      .collect().map(_.getString(0)).toSet
    assert(cur === Set("worse"))
  }

  test("as-of read: the takedown audit sees the list as it was, not as it is") {
    val store = java.nio.file.Files.createTempDirectory("bl_asof")
      .toString + "/s"
    graft.ops.Blocklist.termStoreAppend(
      Seq(("bad", "cat1")).toDF("term", "category"), store, "b0")
    graft.ops.Blocklist.termStoreAppend(
      Seq(("worse", "cat1")).toDF("term", "category"), store, "b1")
    graft.ops.Blocklist.termStoreRetract(
      Seq(("bad", "cat1")).toDF("term", "category"), store, "b1")
    def terms(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getString(0)).toSet
    // as of b0: only the original term, the later append invisible
    assert(terms(graft.ops.Blocklist.currentTermsAsOf(spark, store, "b0"))
      === Set("bad"))
    // as of b1: the retraction tag `retract_b1` sorts AFTER b1, so the
    // audit read still contains the since-retracted term
    assert(terms(graft.ops.Blocklist.currentTermsAsOf(spark, store, "b1"))
      === Set("bad", "worse"))
    // the current list reflects the retraction
    assert(terms(graft.ops.Blocklist.currentTerms(spark, store))
      === Set("worse"))
  }

  test("plan: blocklist side is broadcast, no corpus-side shuffle before the count agg") {
    val docs = Seq((1L, "bad bad")).toDF("doc_id", "text")
    val plan = Blocklist.screen(docs, terms).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"terms must broadcast:\n$plan")
  }
}
