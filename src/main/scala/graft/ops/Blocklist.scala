package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Text

/** Blocklist screening — the policy-filter pass every production
  * training-data pipeline runs before anything model-facing (unsafe
  * term lists, brand exclusions, licensing blocklists): per document,
  * how many blocklisted terms (unigrams or two-token phrases) occur,
  * per category.
  *
  * Shape at 100 TB: the corpus explodes to its token stream ONCE
  * (unigrams + adjacent bigrams, both derived array-side from the same
  * normalized token split — no window/sort for the bigrams); the
  * blocklist is list-sized and BROADCAST, so the join is a map-side
  * hash probe of the token stream — no corpus shuffle at all until the
  * per-(doc, category) count aggregation, whose output is bounded by
  * |docs|·|categories|. Multi-token patterns beyond bigrams belong to
  * [[graft.ops.Dedup]]'s n-gram machinery; category REGEX screens are
  * [[graft.streaming.DqStream.MatchCheck]]'s job — this operator is
  * deliberately the exact-term fast path (the one that covers
  * practically all real blocklists).
  */
object Blocklist {

  /** Per-(doc, category) blocklist hit counts; docs with zero hits (in
    * every category) emit nothing — the screen's survivors are
    * `docs.join(hits, Seq(idCol), "left_anti")`.
    *
    * @param terms (term, category): term is a single normalized token
    *              or two tokens joined by one space
    * @return (idCol, category, hits) — hits counts OCCURRENCES
    *         (a term appearing 3× counts 3), the signal a
    *         severity-weighted policy consumes */
  def screen(docs: DataFrame, terms: DataFrame, idCol: String = "doc_id",
             textCol: String = "text"): DataFrame = {
    // tokenize ONCE into a named column (the bigram derivation reads it
    // twice — hoisting guarantees single evaluation without relying on
    // codegen subexpression elimination)
    val toks = col("_toks")
    val n = size(toks)
    // adjacent bigrams, array-side: zip(toks[0..n-2], toks[1..n-1])
    val bigrams = zip_with(
      slice(toks, lit(1), greatest(n - 1, lit(0))),
      slice(toks, lit(2), greatest(n - 1, lit(0))),
      (a, b) => concat_ws(" ", a, b))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), Text.tokens(col(textCol)).as("_toks"))
      .select(col(idCol), explode(concat(toks, bigrams)).as("unit"))
      .join(broadcast(terms.select(col("term").as("unit"), col("category"))),
        Seq("unit"))
      .groupBy(col(idCol), col("category"))
      .agg(count(lit(1)).cast("long").as("hits"))
  }

  /** Fold a term-list change into the MAINTAINED policy store — real
    * blocklists are living documents (new unsafe terms, appeals,
    * licensing changes), and restarting every screen pipeline per edit
    * is exactly what a store avoids. Rows are ±1 deltas (`w`): the
    * engine's delta discipline on the policy list itself. Marker-gated
    * exactly-once per tag ([[Stores.appendCommit]]). */
  def termStoreAppend(terms: DataFrame, path: String,
                      batchTag: String): Unit = {
    val spark = terms.sparkSession
    val rows = terms.select(col("term"), col("category"),
      lit(1L).as("w"), lit(batchTag).as("tag"))
    if (!Stores.exists(spark, path, "_SUCCESS"))
      rows.limit(0).write.mode("overwrite").parquet(path)
    Stores.appendCommit(spark, path, batchTag) { staging =>
      rows.write.mode("overwrite").parquet(staging)
    }
  }

  /** Remove terms from the policy store: −1 delta rows under a
    * retraction tag (originals stay immutable — the audit trail an
    * appeal decision must not erase; an as-of tag read reconstructs
    * any past list). */
  def termStoreRetract(terms: DataFrame, path: String,
                       batchTag: String): Unit = {
    val spark = terms.sparkSession
    Stores.requireStore(spark, path, "nothing to retract from")
    val rows = terms.select(col("term"), col("category"),
      lit(-1L).as("w"), lit(s"retract_$batchTag").as("tag"))
    Stores.appendCommit(spark, path, s"retract_$batchTag") { staging =>
      rows.write.mode("overwrite").parquet(staging)
    }
  }

  /** The CURRENT policy list: net-positive (term, category) rows. */
  def currentTerms(spark: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame = {
    Stores.requireStore(spark, path, "append terms first")
    Stores.freshRead(spark, path)
      .groupBy(col("term"), col("category"))
      .agg(sum(col("w")).as("net"))
      .filter(col("net") > 0)
      .select(col("term"), col("category"))
  }

  /** The policy list AS OF a batch tag (`tag <= asOfTag`) — the
    * takedown audit trail: retraction rows land under
    * `retract_<tag>` tags which sort AFTER every plain batch tag, so
    * an as-of read at the original tag reconstructs the list any past
    * screen actually used, appeals and later edits excluded. The
    * answer to "what did the screen see when doc X shipped". */
  def currentTermsAsOf(spark: org.apache.spark.sql.SparkSession,
                       path: String, asOfTag: String): DataFrame = {
    Stores.requireStore(spark, path, "append terms first")
    Stores.freshRead(spark, path)
      .filter(col("tag") <= asOfTag)
      .groupBy(col("term"), col("category"))
      .agg(sum(col("w")).as("net"))
      .filter(col("net") > 0)
      .select(col("term"), col("category"))
  }

  /** [[screen]] with the list as of a tag ([[currentTermsAsOf]]) —
    * replay any past policy decision against today's documents. */
  def screenFromStoreAsOf(docs: DataFrame, path: String, asOfTag: String,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame =
    screen(docs, currentTermsAsOf(docs.sparkSession, path, asOfTag),
      idCol, textCol)

  /** [[screen]] against the maintained store's CURRENT list — each
    * call (or each micro-batch, as a [[graft.streaming.StoreLoop]]
    * step) screens with the list as of now; a policy edit lands in the
    * next batch with no pipeline restart (the
    * [[graft.streaming.DqStream.OrphanStoreCheck]] stream-static
    * contract on the policy side). Batches already screened are NOT
    * re-judged (the additive report contract; re-screening history is a
    * batch job over the archive, not a stream's). */
  def screenFromStore(docs: DataFrame, path: String,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame =
    screen(docs, currentTerms(docs.sparkSession, path), idCol, textCol)

  /** DuckDB mirror of [[screen]]'s unit stream over `documents(doc_id,
    * text)` with an inline blocklist — a CTE `bl_hits(doc_id, category,
    * hits)`, for oracle replay. `terms` as (term, category) pairs. */
  def screenSql(terms: Seq[(String, String)]): String = {
    val vals = terms
      .map { case (t, c) => s"('${t.replace("'", "''")}', '$c')" }
      .mkString(", ")
    raw"""bl_norm AS (SELECT doc_id,
         |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')
         |      AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |bl_units AS (
         |  SELECT doc_id, unnest(toks) AS unit FROM bl_norm
         |  UNION ALL
         |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |    i -> toks[i] || ' ' || toks[i + 1])) AS unit FROM bl_norm),
         |bl_terms(term, category) AS (VALUES $vals),
         |bl_hits AS (
         |  SELECT doc_id, category, CAST(count(*) AS BIGINT) AS hits
         |  FROM bl_units JOIN bl_terms ON unit = term
         |  GROUP BY doc_id, category)""".stripMargin
  }
}
