package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Vectors

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two tiers:
  *  - [[bruteTopK]]: exact cosine top-k, query-set × corpus. The query set
  *    is broadcast (it is the small side by construction), so the corpus —
  *    the 100 TB side — is scanned once with no shuffle of the corpus at
  *    all; ranking shuffles only (queries × corpus-partition) candidate
  *    rows, cut to k per query per partition first.
  *  - [[lshTopK]]: random-hyperplane bucketing on both sides; only
  *    same-bucket pairs are scored. Probing several adjacent buckets
  *    (multi-probe) trades recall for cost via `planes`.
  */
object Ann {

  /** Exact top-k neighbors for each query vector. `queries` must be small
    * enough to broadcast (it is hinted); ties broken by neighbor id. */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_v"))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_v"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(Vectors.cosine(col("q_v"), col("n_v")), 6).as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
  }

  /** IVF (inverted-file) top-k: the corpus is partitioned into cells by
    * nearest centroid; a query searches only its `nprobe` closest cells.
    * Centroids here are `k` fixed corpus vectors (deterministic seed
    * selection — in production a k-means pass would refine them; the
    * index/probe machinery is identical). The cell table is the
    * "inverted file": at 100 TB it is written once, partitioned by
    * cell id, and queries prune to nprobe partitions.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              centroidIds: Seq[Long], nprobe: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val cents = corpus
      .filter(col(idCol).isin(centroidIds: _*))
      .select(col(idCol).as("c_id"), col(vecCol).as("c_v"))
    def nearestCells(df: DataFrame, pre: String, n: Int) = {
      val w = Window.partitionBy(col(s"${pre}_id"))
        .orderBy(col("c_cos").desc, col("c_id").asc)
      df.select(col(idCol).as(s"${pre}_id"), col(vecCol).as(s"${pre}_v"))
        .join(broadcast(cents))
        .select(col(s"${pre}_id"), col(s"${pre}_v"), col("c_id"),
          Vectors.cosine(col(s"${pre}_v"), col("c_v")).as("c_cos"))
        .withColumn("crank", row_number().over(w))
        .filter(col("crank") <= n)
        .select(col(s"${pre}_id"), col(s"${pre}_v"), col("c_id").as("cell"))
    }
    // inverted file, 1 cell/vector: map-only cosine-argmax kernel against
    // the collected k×dim model (ties → lowest index = lowest c_id, the
    // window form's rule) — the CORPUS side is never joined or windowed
    // to be assigned; only the tiny query side pays the rank window.
    // NOTE: collecting the model makes frame CONSTRUCTION run one small
    // job (filter-isin over the corpus) — build-time work for an
    // index-build API, like the PQ trainers.
    val model = cents
      .select(col("c_id").cast("long"),
        transform(col("c_v"), x => x.cast("double"))).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    require(model.nonEmpty,
      s"no corpus rows matched centroidIds (${centroidIds.take(5).mkString(",")}…)")
    val flat = model.flatMap(_._2)
    val dim = flat.length / model.length
    val cellIds = typedlit(model.map(_._1).toSeq)
    val cells = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_v"),
      element_at(cellIds,
        ColumnBridge.column(graft.functions.expr.NearestCentroidCos(
          ColumnBridge.expr(col(vecCol)), flat, dim)) + 1).as("cell"))
    val probes = nearestCells(queries, "q", nprobe) // multi-probe
    val scored = cells.join(broadcast(probes), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(Vectors.cosine(col("q_v"), col("n_v")), 6).as("cos"))
    // no dedup needed: each corpus vector lives in exactly one cell
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
  }

  /** Lloyd's k-means refinement for the IVF centroids: the model lives
    * on the DRIVER (k×dim doubles, like the PQ codebooks), so each
    * iteration is ONE codegen'd map-only assignment pass over the corpus
    * ([[graft.functions.expr.NearestCentroidCos]] — cosine argmax
    * against the model as a reference object, no join, no window) plus
    * one k-group aggregation of element-wise sums. Deterministic:
    * seeded from `seedIds` corpus vectors, ties broken by centroid id
    * (cells ordered by c_id); empty cells keep their previous centroid.
    * Returns (cell id, centroid array<double>).
    *
    * At 100 TB: iterations scan the corpus `iters` times but never
    * shuffle, join, or window it — only k×dim partial sums cross the
    * wire per partition (the earlier broadcast-join + row_number form
    * materialized n×k assignment rows and shuffled the corpus by id
    * every iteration); train on a sample if even the scans are too
    * much. */
  def kmeansCentroids(corpus: DataFrame, seedIds: Seq[Long], iters: Int,
                      dim: Int, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val spark = corpus.sparkSession
    var model: Array[(Long, Array[Double])] = corpus
      .filter(col(idCol).isin(seedIds: _*))
      .select(col(idCol).cast("long"),
        transform(col(vecCol), x => x.cast("double")))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(model.nonEmpty, "no seed vectors found for the given seedIds")
    (1 to iters).foreach { _ =>
      val flat = model.flatMap(_._2)
      val assigned = corpus.select(
        ColumnBridge.column(graft.functions.expr.NearestCentroidCos(
          ColumnBridge.expr(col(vecCol)), flat, dim)).as("cell"),
        col(vecCol).as("n_v"))
      // element-wise mean per cell: k×dim aggregate, decimal-free (the
      // mean is a model parameter, not an oracle-compared value)
      val sums = assigned.groupBy(col("cell")).agg(
        count(lit(1)).as("n"),
        array((0 until dim).map(i =>
          sum(col("n_v").getItem(i).cast("double"))): _*).as("s"))
        .collect()
      val updated = model.clone()
      sums.foreach { r =>
        val cell = r.getInt(0)
        val n = r.getLong(1).toDouble
        updated(cell) = (model(cell)._1, r.getSeq[Double](2).map(_ / n).toArray)
      }
      model = updated
    }
    import spark.implicits._
    model.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("c_id", "c_v")
  }

  /** LSH-bucketed top-k: both sides bucketed by `planes` random
    * hyperplanes; candidates = same-bucket pairs. Returns up to k
    * neighbors per query (fewer if the bucket is sparse — the recall/cost
    * tradeoff of ANN). */
  /** Hard-negative mining for contrastive training: per query vector,
    * the k nearest CORPUS vectors with a DIFFERENT label — the nearest
    * wrong-class examples, the informative negatives batch-builders
    * want. Same shape as [[bruteTopK]]: queries broadcast, the corpus
    * (the 100 TB side) scanned once with no shuffle; the label
    * inequality rides the join condition so excluded pairs are never
    * scored. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_v"),
      col(labelCol).as("q_label"))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_v"),
      col(labelCol).as("n_label"))
    val scored = c.join(broadcast(q),
        col("q_id") =!= col("n_id") && col("q_label") =!= col("n_label"))
      .select(col("q_id"), col("q_label"), col("n_id"), col("n_label"),
        round(Vectors.cosine(col("q_v"), col("n_v")), 6).as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("q_label"), col("n_id"), col("n_label"),
        col("cos"), col("rank"))
  }

  /** Multi-probe LSH top-k (Lv et al., VLDB 2007): each query probes
    * its OWN hyperplane bucket plus the buckets reached by flipping its
    * `nProbe − 1` lowest-|margin| sign bits — the planes the vector
    * sits closest to, hence the buckets its true neighbors most likely
    * fell into. Recall climbs like running multiple hash tables at the
    * memory/storage cost of ONE: the corpus is bucketed once and never
    * duplicated; only the (broadcast-small) probe side fans out
    * nProbe×. Flip order ties break toward the lower plane index so
    * the probe set is deterministic and oracle-replayable. */
  def multiProbeLshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                        dim: Int, planes: Int = 8, nProbe: Int = 3,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    require(nProbe >= 1 && nProbe <= planes + 1,
      s"need 1 <= nProbe=$nProbe <= planes+1=${planes + 1}")
    val coefs = Vectors.deterministicPlanes(dim, planes)
    val dotCols = coefs.map(p => Vectors.dot(col(vecCol), typedlit(p)))
    val q0 = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_v"),
      array(dotCols: _*).as("ds"))
    val base = (0 until planes).map(j =>
        when(element_at(col("ds"), j + 1) > 0.0, lit(1L << j)).otherwise(0L))
      .reduce[Column](_ + _)
    val flipOrder = sort_array(array((0 until planes).map(j =>
      struct(abs(element_at(col("ds"), j + 1)).as("m"), lit(j).as("j"))): _*))
    // 1L << j for data-dependent j as a bounded when-chain (the Scala
    // shiftleft helper only takes a literal shift)
    def bitOf(jc: Column): Column =
      (1 until planes).foldLeft(when(jc === 0, lit(1L)))(
        (acc, j) => acc.when(jc === j, lit(1L << j))).otherwise(lit(0L))
    val qProbes = q0
      .withColumn("base", base)
      .withColumn("ord", flipOrder)
      .withColumn("bucket", explode(concat(array(col("base")),
        transform(slice(col("ord"), 1, nProbe - 1),
          e => col("base").bitwiseXOR(bitOf(e.getField("j")))))))
      .select(col("q_id"), col("q_v"), col("bucket"))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_v"),
      Vectors.hyperplaneBucket(col(vecCol), dim, planes).as("bucket"))
    // no pair dedup needed: a corpus doc lives in exactly ONE bucket
    // and the query's probe buckets are pairwise distinct (single-bit
    // flips of distinct bits), so (q, n) can match at most once
    val scored = c.join(broadcast(qProbes), Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(Vectors.cosine(col("q_v"), col("n_v")), 6).as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
  }

  /** Exact cosine re-rank of an approximate shortlist — stage 2 of the
    * standard two-stage retrieval: the compressed-domain stage (PQ /
    * IVF-PQ / LSH) over-fetches `|shortlist| = rerankFrom · |Q|`
    * candidates cheaply; the full-precision metric then runs ONLY on
    * those rows. The corpus join is keyed on n_id (point-lookup-shaped
    * — the tiny shortlist side broadcasts against the vector store scan),
    * so at 100 TB the exact arithmetic touches thousands of rows, not
    * |corpus| · |Q|. Shortlist needs (q_id, n_id); queries must be
    * broadcast-small (they are hinted). */
  def rerankExact(shortlist: DataFrame, corpus: DataFrame, queries: DataFrame,
                  k: Int, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val cv = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_v"))
    val qv = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_v"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id").asc)
    shortlist.select("q_id", "n_id")
      .join(cv, "n_id")
      .join(broadcast(qv), "q_id")
      .select(col("q_id"), col("n_id"),
        round(Vectors.cosine(col("q_v"), col("n_v")), 6).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
  }

  // ---------------------------------------------- int8 quantized tier

  /** Global symmetric int8 quantization scale: max |component| over the
    * corpus. One scan collapsing to ONE scalar; float→double widening
    * and comparisons only — no accumulation — so the scale is
    * bit-identical in any engine and any partition order. */
  def int8Scale(emb: DataFrame, vecCol: String = "embedding"): Double =
    emb.agg(max(array_max(transform(col(vecCol), x => abs(x.cast("double"))))))
      .head.getDouble(0)

  /** q_i = round(x_i · 127 / scale) as TINYINT, clipped to ±127 —
    * symmetric linear int8 (the FAISS/SQ8 shape with one global scale).
    * round() first makes the value integral, so the narrowing cast is
    * exact under both Spark (truncate) and DuckDB (nearest) semantics;
    * the clip is a no-op for vectors inside the scale (the build-time
    * case, where scale IS the max) and saturates out-of-range values —
    * probes and frozen-scale appends larger than anything stored. */
  private def quantizeVec(vec: Column, scale: Double): Column =
    transform(vec, x =>
      greatest(lit(-127.0), least(lit(127.0),
        round(x.cast("double") * lit(127.0) / lit(scale)))).cast("tinyint"))

  /** Write-iff-absent int8-quantized embedding store: (id, q, scale).
    * The 100 TB play is the STORE, not the math: 4× less to scan per
    * ANN pass, and scoring becomes exact 64-bit integer dot products —
    * order-free, engine-free, SIMD-friendly — instead of float folds.
    * Quantization is deterministic given the scale, so rebuild ≡ reuse
    * (the codebook lifecycle). */
  def int8Stored(emb: DataFrame, path: String, idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    if (!Stores.exists(emb.sparkSession, path, "_SUCCESS")) {
      val m = int8Scale(emb, vecCol)
      emb.select(col(idCol).as("id"), quantizeVec(col(vecCol), m).as("q"),
          lit(m).as("scale"))
        .write.mode("overwrite").parquet(path)
    }
    emb.sparkSession.read.parquet(path)
  }

  /** Fold NEW vectors into an [[int8Stored]] store — the frozen-model
    * append (the [[Pq.indexAppend]] shape at scalar-quantization
    * granularity): additions quantize with the STORE's scale, never a
    * recomputed one — a fresh global max would re-scale nothing already
    * stored and silently mix two scales in one store. A new vector
    * larger than the stored max CLIPS to ±127 (the standard SQ8 add
    * semantics; re-quantize via a rebuild when drift makes clipping
    * material). Marker-file idempotent per `batchTag`; flat layout, so
    * [[Stores.compact]] applies as-is. */
  def int8StoreAppend(newVecs: DataFrame, path: String, batchTag: String,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    Stores.requireStore(newVecs.sparkSession, path,
      "build it with int8Stored")
    // staged write + marker-LAST commit (exactly-once across crashes)
    Stores.appendCommit(newVecs.sparkSession, path, batchTag) { staging =>
      val m = newVecs.sparkSession.read.parquet(path)
        .select(col("scale")).head.getDouble(0)
      newVecs.select(col(idCol).as("id"),
          quantizeVec(col(vecCol), m).as("q"), lit(m).as("scale"))
        .write.mode("overwrite").parquet(staging)
    }
    newVecs.sparkSession.read.parquet(path)
  }

  /** Σ a_i·b_i over int8 codes, widened to LONG — exact (64 dims × 127²
    * is far inside long range), hence associative and order-free. */
  private def idot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("long") * y.cast("long")),
      lit(0L), (acc, v) => acc + v)

  /** [[bruteTopK]] in quantized space: probes quantize with the store's
    * scale (map-side, broadcast), the corpus side reads only the int8
    * store — the full-precision vectors are never touched. The scale
    * cancels in cosine, so ranks track the float ranks up to
    * quantization error. */
  def bruteTopKInt8(stored: DataFrame, probes: DataFrame, k: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val m = stored.select(col("scale")).head.getDouble(0)
    val q = probes.select(col(idCol).as("q_id"),
      quantizeVec(col(vecCol), m).as("q_q"))
    val c = stored.select(col("id").as("n_id"), col("q").as("n_q"))
    val d = idot(col("q_q"), col("n_q")).cast("double")
    val nn = sqrt(idot(col("q_q"), col("q_q")).cast("double")) *
      sqrt(idot(col("n_q"), col("n_q")).cast("double"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(when(nn > 0.0, d / nn).otherwise(lit(0.0)), 6).as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
  }

  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
              planes: Int = 8, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    def bucketed(df: DataFrame, pre: String) =
      df.select(col(idCol).as(s"${pre}_id"), col(vecCol).as(s"${pre}_v"),
        Vectors.hyperplaneBucket(col(vecCol), dim, planes).as("bucket"))
    val q = bucketed(queries, "q")
    val c = bucketed(corpus, "n")
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        round(Vectors.cosine(col("q_v"), col("n_v")), 6).as("cos"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rank"))
  }

  /** Reciprocal Rank Fusion (Cormack, Clarke & Büttcher 2009, "RRF
    * outperforms Condorcet and individual rank learning methods"):
    * fuse two per-query rankings — canonically a LEXICAL one (BM25)
    * and a SEMANTIC one (embedding top-k) — by
    * `score = Σ_lists 1/(kConst + rank)`, the standard hybrid-search
    * combiner. Rank-only fusion needs no score calibration between
    * lists, and the constant damps the head so one list's #1 cannot
    * drown the other's consensus.
    *
    * Determinism: ranks are exact integers, each term is one IEEE
    * division, the sum is two terms in fixed order — bit-identical
    * across engines; ties break by id. An item on only one list keeps
    * that list's term (the other contributes 0).
    *
    * Scale: a union of two (queries × k)-sized rank tables, one hash
    * aggregate per (q_id, n_id) and one windowed top-k — shortlist-sized
    * everything; the corpus was only touched by the upstream rankers.
    *
    * Precondition: each ranking has unique (q_id, n_id) rows, as the
    * `row_number` rankers guarantee. A pair repeated within one list
    * would have its terms summed into the fused score.
    *
    * @param a,b rankings with columns (q_id, n_id, rank)
    * @return (q_id, n_id, rrf, rank) — top `topK` fused per query
    */
  def rrfFuse(a: DataFrame, b: DataFrame, kConst: Int, topK: Int): DataFrame = {
    require(kConst >= 1 && topK >= 1, "need kConst >= 1 and topK >= 1")
    // UNION + SUM instead of a full-outer join (optimization r17): the
    // two-list merge used to plan as a FullOuter SortMergeJoin — the one
    // join type neither broadcast nor shuffled-hash can replace — paying
    // two exchanges + two sorts on rank tables that are (queries × k)
    // rows by construction. The fused score is a TWO-term sum, and IEEE
    // addition of two doubles is commutative, so summing the per-list
    // terms through one hash aggregation is bit-identical: both lists
    // present → t_a + t_b (either order, same bits); one list → that
    // term + nothing = the term, exactly coalesce(t, 0) + 0 for
    // positive terms. One exchange, no sorts, codegen throughout.
    def terms(r: DataFrame): DataFrame = r.select(col("q_id"), col("n_id"),
      coalesce(lit(1.0) / (lit(kConst.toDouble) +
        col("rank").cast("long")), lit(0.0)).as("t"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("n_id").asc)
    terms(a).unionAll(terms(b))
      .groupBy(col("q_id"), col("n_id"))
      .agg(sum(col("t")).as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("q_id"), col("n_id"),
        round(col("score"), 6).as("rrf"), col("rank"))
  }

  /** Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998,
    * "The use of MMR, diversity-based reranking"): greedy selection of
    * `kOut` results per query from a `kShortlist`-deep exact shortlist,
    * each step taking the candidate maximizing
    * `λ·cos(q, d) − (1−λ)·max_{s ∈ selected} cos(d, s)` — relevance
    * penalized by redundancy against what is already picked. This is
    * THE diversified-retrieval pass a RAG/eval pipeline runs between
    * ANN and the consumer: near-identical top hits collapse to one
    * representative, freeing slots for distinct neighborhoods.
    *
    * Determinism: cosines round to 6 places (the [[bruteTopK]]
    * contract), scores are two IEEE multiplies and a subtract, ties
    * break by id — a dyadic λ (0.5, 0.25, …) makes λ·x and (1−λ)·y
    * exact halvings/quarterings, so the oracle's unrolled replay is
    * bit-identical.
    *
    * Scale: the greedy loop runs over SHORTLIST-sized frames only —
    * pairwise sims are kShortlist² rows per query built once, each of
    * the kOut−1 unrolled steps is one join + one windowed argmax over
    * ≤ kShortlist rows per query. The corpus is touched exactly once
    * (the shortlist build). Queries with fewer than kOut shortlist
    * rows return as many ranks as they have candidates. */
  def mmrRerank(corpus: DataFrame, queries: DataFrame, kShortlist: Int,
                kOut: Int, lambda: Double = 0.5,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(kOut >= 1 && kOut <= kShortlist,
      s"need 1 <= kOut <= kShortlist, got $kOut / $kShortlist")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1], got $lambda")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sl = bruteTopK(corpus, queries, kShortlist, idCol, vecCol)
      .join(corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_v")), "n_id")
      .select(col("q_id"), col("n_id"), col("cos"), col("n_v"))
      .persist(lvl)
    val pw = sl.select(col("q_id"), col("n_id").as("id_x"), col("n_v").as("v_x"))
      .join(sl.select(col("q_id"), col("n_id").as("id_y"), col("n_v").as("v_y")),
        Seq("q_id"))
      .filter(col("id_x") =!= col("id_y"))
      .select(col("q_id"), col("id_x"), col("id_y"),
        round(Vectors.cosine(col("v_x"), col("v_y")), 6).as("sim"))
      .persist(lvl)
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("n_id").asc)
    val first = sl
      .withColumn("score", col("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("n_id"), col("cos"), lit(1L).as("mmr_rank"))
    var acc = first
    for (t <- 2 to kOut) {
      val pen = pw
        .join(acc.select(col("q_id"), col("n_id").as("id_y")), Seq("q_id", "id_y"))
        .groupBy(col("q_id"), col("id_x").as("n_id"))
        .agg(max(col("sim")).as("pen"))
      val next = sl.select("q_id", "n_id", "cos")
        .join(acc.select("q_id", "n_id"), Seq("q_id", "n_id"), "left_anti")
        .join(pen, Seq("q_id", "n_id"))
        .withColumn("score",
          lit(lambda) * col("cos") - lit(1.0 - lambda) * col("pen"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("q_id"), col("n_id"), col("cos"), lit(t.toLong).as("mmr_rank"))
      acc = acc.unionAll(next)
    }
    // sl/pw stay persisted until the caller's action; clearCache owns release
    acc
  }
}
