package graft.sink

import java.sql.{Connection, DriverManager, PreparedStatement, ResultSet}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.internal.SQLConf
import graft.core.Deltas

/** Declarative output-table schema (reference `DbRecord`/`DbColumn`,
  * db/mod.rs:134-206): name, SQL type, index flag, version stamp. */
final case class ColumnSpec(name: String, sqlType: String, index: Boolean = false)

final case class TableSpec(name: String, version: Int, columns: Seq[ColumnSpec]) {
  def offsetsTable: String = s"${name}_offsets"
  def colNames: Seq[String] = columns.map(_.name)
}

/** A transactional sink that [[graft.streaming.DeltaPipeline]] can drive:
  * a version-checked bootstrap (true ⇒ the caller must replay from
  * offset 0) and a `foreachBatch` writer. */
trait DeltaBatchSink {
  def bootstrap(): Boolean
  def foreachBatchWriter(): (DataFrame, Long) => Unit
}

/** Shared row-level SQL for the delta protocol (used by the single-table
  * sink and the multi-table [[UnionDeltaSink]]). */
private[sink] object DeltaSql {

  def bind(ps: PreparedStatement, params: Seq[Any]): Unit =
    params.zipWithIndex.foreach { case (v, i) => ps.setObject(i + 1, v) }

  def exec(c: Connection, sql: String): Unit = {
    val st = c.createStatement(); try st.executeUpdate(sql) finally st.close()
  }

  /** Identifier-case-robust existence probe. Unquoted identifiers fold
    * differently per engine — upper (Derby/Oracle/H2), lower (Postgres),
    * exact (SQLite/MSSQL) — so probe all three spellings; tested on Derby
    * (upper-folding) with spot checks for the as-given spelling. */
  def tableExists(c: Connection, name: String): Boolean = {
    def probe(n: String): Boolean = {
      val rs = c.getMetaData.getTables(null, null, n, null)
      try rs.next() finally rs.close()
    }
    probe(name) || probe(name.toUpperCase) || probe(name.toLowerCase)
  }

  def nullSafeWhere(spec: TableSpec, values: Seq[Any]): (String, Seq[Any]) = {
    val (clauses, params) = spec.colNames.zip(values).map { case (n, v) =>
      if (v == null) (s"$n IS NULL", None) else (s"$n = ?", Some(v))
    }.unzip
    (clauses.mkString(" AND "), params.flatten)
  }

  /** Bag-semantics application of one table's deltas on an open txn.
    *
    * Driver-memory-bounded: `deltas` is an ITERATOR (fed by [[pull]] in
    * the batch writers, one coalesced partition at a time, so a
    * full-history replay never materializes the view on the driver),
    * read in chunks of at most `rowBatchSize` pairwise-distinct tuples;
    * a chunk closes early when a tuple repeats. Deltas on distinct
    * tuples commute, so within a chunk the updates run first, then the
    * retractions, then the inserts. Closing the chunk on a repeat keeps
    * unconsolidated input (an insert and a retraction of the same tuple
    * in one batch) exactly as if it were applied one delta at a time.
    * Tuples are told apart by value — the same equality the WHERE clause
    * relies on: the bag protocol assumes the engine's SQL equality on
    * these columns is value equality (no case-insensitive or
    * blank-padding collation).
    *
    * Paired changes: when the spec has index columns (and others), a
    * retraction `(A, −1)` and an insertion `(B, +1)` of the same chunk
    * whose index-column values are equal are matched in arrival order and
    * applied as one `updateSql` that sets B's non-index columns on a row
    * matching A. Its count `k` is exact under bag semantics: 0 is an
    * over-retraction, 1 is done, and `k > 1` (a dialect without a bounded
    * update changed every copy of A) is repaired by applying `(B, −(k−1))`
    * as a retraction and `(A, k−1)` as inserts. Every other delta takes
    * the paths below.
    *
    * Updates and deletes go out as JDBC statement batches, one prepared
    * statement per statement text (the NULL pattern of [[nullSafeWhere]])
    * per transaction, and each row's affected count is read from
    * `executeBatch`'s update counts. Retractions per dialect: with
    * `deleteLimitSql` (MSSQL `DELETE TOP (?)`) exactly `-mult` rows are
    * deleted; otherwise delete-all and reinsert `removed + mult` copies,
    * the affected-row count standing in for a separate COUNT round trip
    * (postgre.rs:245-247 — the reference reads the delete's row count the
    * same way). A retraction of more rows than present throws, and so
    * does a driver that reports no per-row count
    * (`SUCCESS_NO_INFO`/`EXECUTE_FAILED`); the caller's transaction then
    * rolls back. The chunk's inserts, reinserted copies included, follow
    * in batches of at most `rowBatchSize` rows. */
  def applyTableDeltas(c: Connection, spec: TableSpec,
                       deltas: Iterator[(Seq[Any], Long)],
                       dialect: SinkDialect = AnsiDialect,
                       rowBatchSize: Int = 1000): Unit = {
    require(rowBatchSize > 0, "rowBatchSize must be positive")
    val (indexAt, setAt) = spec.columns.indices.partition(i => spec.columns(i).index)
    val insRow = c.prepareStatement(dialect.insertSql(spec))
    val prepared = mutable.Map.empty[String, PreparedStatement] // UPDATE/DELETE by text
    val chunk = mutable.LinkedHashMap.empty[Seq[Any], Long]
    var pending = 0
    def flushInserts(): Unit = if (pending > 0) { insRow.executeBatch(); pending = 0 }
    def queueInserts(values: Seq[Any], copies: Long): Unit =
      (0L until copies).foreach { _ =>
        bind(insRow, values)
        insRow.addBatch()
        pending += 1
        if (pending >= rowBatchSize) flushInserts()
      }
    def overRetraction(values: Seq[Any], mult: Long, removed: Int) =
      new IllegalStateException(
        s"delta retracts more rows than present in ${spec.name}: $values mult=$mult have=$removed")
    /** Queues each item on the prepared statement for its text, runs every
      * statement's batch, and returns each item with its affected-row count. */
    def counted[T](verb: String, items: Iterable[T])(stmt: T => (String, Seq[Any])): Seq[(T, Int)] = {
      val queued = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[T]]
      items.foreach { t =>
        val (sql, params) = stmt(t)
        val ps = prepared.getOrElseUpdate(sql, c.prepareStatement(sql))
        bind(ps, params)
        ps.addBatch()
        queued.getOrElseUpdate(sql, mutable.ArrayBuffer.empty) += t
      }
      queued.toSeq.flatMap { case (sql, ts) =>
        val counts = prepared(sql).executeBatch()
        if (counts.length != ts.size || counts.exists(_ < 0))
          throw new IllegalStateException(
            s"the ${dialect.name} JDBC driver reported no per-row update count for a " +
              s"batched $verb on ${spec.name} (${counts.mkString("[", ",", "]")} for " +
              s"${ts.size} rows); the delta sink needs every row's affected-row count")
        ts.zip(counts)
      }
    }
    /** The chunk's (A, B) pairs — a −1 and a +1 with equal index-column
      * values, matched in arrival order — and its other deltas in order. */
    def pairUp(): (Seq[(Seq[Any], Seq[Any])], Seq[(Seq[Any], Long)]) =
      if (!pairable(spec)) (Nil, chunk.toSeq)
      else {
        val open = mutable.Map.empty[(Seq[Any], Long), mutable.Queue[Seq[Any]]]
        val pairs = mutable.ArrayBuffer.empty[(Seq[Any], Seq[Any])]
        chunk.foreach { case (values, mult) =>
          if (mult == 1L || mult == -1L) {
            val key = indexAt.map(values)
            open.get((key, -mult)).filter(_.nonEmpty) match {
              case Some(waiting) =>
                val other = waiting.dequeue()
                pairs += (if (mult < 0) (values, other) else (other, values))
              case None => open.getOrElseUpdate((key, mult), mutable.Queue.empty) += values
            }
          }
        }
        val paired = pairs.iterator.flatMap { case (a, b) => Iterator(a, b) }.toSet
        (pairs.toSeq, chunk.toSeq.filterNot { case (values, _) => paired(values) })
      }
    def applyChunk(): Unit = {
      val (pairs, single) = pairUp()
      val retractions = single.filter(_._2 < 0).toBuffer
      val inserts = single.filter(_._2 > 0).toBuffer
      counted("UPDATE", pairs) { case (a, b) =>
        val (where, params) = nullSafeWhere(spec, a)
        (dialect.updateSql(spec, where), setAt.map(b) ++ params)
      }.foreach { case ((a, b), k) =>
        if (k == 0) throw overRetraction(a, -1L, 0)
        if (k > 1) { // k copies of A became B: one was asked for
          retractions += ((b, 1L - k))
          inserts += ((a, k - 1L))
        }
      }
      counted("DELETE", retractions) { case (values, mult) =>
        val (where, params) = nullSafeWhere(spec, values)
        dialect.deleteLimitSql(spec, where) match {
          case Some(bounded) => (bounded, -mult +: params) // removes exactly -mult rows
          case None => (dialect.deleteAllSql(spec, where), params)
        }
      }.foreach { case ((values, mult), removed) =>
        if (removed < -mult) throw overRetraction(values, mult, removed)
        // delete-all: reinsert the surviving copies (sqlite.rs:238-259);
        // a bounded delete removed exactly -mult, leaving none to reinsert
        queueInserts(values, removed + mult)
      }
      inserts.foreach { case (values, mult) => queueInserts(values, mult) }
      flushInserts()
      chunk.clear()
    }
    try {
      deltas.foreach { case (values, mult) =>
        if (mult != 0) {
          if (chunk.size >= rowBatchSize || chunk.contains(values)) applyChunk()
          chunk(values) = mult
        }
      }
      applyChunk()
    } finally {
      insRow.close()
      prepared.values.foreach(_.close())
    }
  }

  /** A batch's consolidated deltas ([[Deltas.consolidate]]) in `spec`'s
    * column order, pulled through [[pull]]: the consolidation's exchange
    * runs when this is called, its rows as the iterator is drained.
    * When the batch carries multiplicities and the spec has index columns
    * (and others), the consolidation is co-located for
    * [[applyTableDeltas]]'s pairing: the batch is hash-partitioned on the
    * index columns, which already satisfies the consolidation's grouping
    * (one exchange in all), and each partition is sorted by them, so a
    * key's retraction and re-insertion arrive next to each other. */
  def consolidatedRows(batch: DataFrame, spec: TableSpec): Iterator[(Seq[Any], Long)] = {
    val idx = spec.columns.filter(_.index).map(c => col(c.name))
    val deltas =
      if (!pairable(spec) || !batch.columns.contains(Deltas.MULT)) Deltas.consolidate(batch)
      else Deltas.consolidate(batch.repartition(idx: _*)).sortWithinPartitions(idx: _*)
    pull(deltas).map(rowOf(_, spec.colNames))
  }

  /** `ds`'s rows on the driver, one partition at a time
    * (`toLocalIterator`), with `ds` planned under adaptive query execution
    * so that its final exchange is coalesced to partitions of about
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` (or
    * `spark.sql.adaptive.coalescePartitions.minPartitionSize`, if
    * larger). A batch below that size is one partition, pulled by one job
    * whatever `spark.sql.shuffle.partitions` is, and the driver holds at
    * most one such partition at a time; coalescing only merges, so one
    * shuffle partition larger than the target stays whole. Without AQE,
    * `toLocalIterator` starts one job per shuffle partition.
    *
    * Spark switches AQE off in the session of a stateful streaming query,
    * which is the session a `foreachBatch` writer's batch belongs to, so
    * it is switched on here only while `toLocalIterator` plans `ds` and
    * runs its shuffle map stages (both happen inside that call, before a
    * caller's transaction opens), and the setting is restored in a
    * `finally`; the result jobs run as the iterator is drained. */
  def pull(ds: DataFrame): Iterator[Row] = {
    val conf = ds.sparkSession.conf
    val aqe = SQLConf.ADAPTIVE_EXECUTION_ENABLED.key
    val was = conf.get(aqe)
    conf.set(aqe, "true")
    try ds.toLocalIterator().asScala finally conf.set(aqe, was)
  }

  /** A spec whose rows can change in place: it has index columns to match
    * a pair on and other columns for the UPDATE to set. */
  private def pairable(spec: TableSpec): Boolean =
    spec.columns.exists(_.index) && spec.columns.exists(!_.index)

  private def rowOf(r: Row, colNames: Seq[String]): (Seq[Any], Long) = {
    val values = colNames.map(n => r.getAs[Any](n) match {
      case null => null
      case v => v.asInstanceOf[AnyRef]
    })
    (values, r.getAs[Long](Deltas.MULT))
  }

  /** Runs `sql` and reads its result; the statement and the result set
    * are closed however `read` ends. */
  def query[A](c: Connection, sql: String)(read: ResultSet => A): A = {
    val st = c.createStatement()
    try {
      val rs = st.executeQuery(sql)
      try read(rs) finally rs.close()
    } finally st.close()
  }

  /** The restart point kept in an offsets table (reference K6
    * `get_offsets`, db/mod.rs:126). */
  def readOffsets(url: String, table: String): Map[String, Long] = withConn(url) { c =>
    query(c, s"SELECT source, offset_ FROM $table") { rs =>
      val b = Map.newBuilder[String, Long]
      while (rs.next()) b += rs.getString(1) -> rs.getLong(2)
      b.result()
    }
  }

  /** Runs a `foreachBatch` writer's `body` with its micro-batch plan
    * executed once, for a writer that reads the batch more than once.
    * The batch is persisted; the per-source max `_offset` (empty without
    * a `_source` column) is computed first, before any transaction opens,
    * which fills the cache; `body` receives those offsets, and every
    * later read of the batch reads the cache. The batch is unpersisted
    * however `body` ends. */
  def onceOverBatch[A](df: DataFrame)(body: Map[String, Long] => A): A = {
    df.persist()
    try {
      val offsets: Map[String, Long] =
        if (df.columns.contains("_source"))
          df.groupBy("_source").max("_offset").collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
        else Map.empty
      body(offsets)
    } finally df.unpersist()
  }

  /** The exactly-once protocol's two tables, each as (name, CREATE
    * statement in `dialect`): the per-source restart offsets and the
    * applied batch ids that [[inBatchTxn]] writes. One definition for
    * the single-table and the union bootstraps. */
  def protocolTables(offsetsTable: String, batchesTable: String,
                     dialect: SinkDialect): Seq[(String, String)] = Seq(
    offsetsTable -> dialect.createTableSql(offsetsTable,
      "source VARCHAR(50) NOT NULL PRIMARY KEY, offset_ BIGINT NOT NULL"),
    batchesTable -> dialect.createTableSql(batchesTable, "batch_id BIGINT NOT NULL"))

  /** Connection scope with rollback-before-close: a failure inside `f`
    * must surface, not be masked by Derby's close-with-active-txn error. */
  def withConn[A](url: String)(f: Connection => A): A = {
    val c = DriverManager.getConnection(url)
    try f(c)
    finally {
      try { if (!c.getAutoCommit) c.rollback() } catch { case _: Throwable => () }
      try c.close() catch { case _: Throwable => () }
    }
  }

  /** THE exactly-once batch transaction (one copy for all three sinks):
    * serializable txn; an already-applied batchId rolls back and
    * returns false (idempotent redelivery); otherwise offsets upsert +
    * batch stamp + `body` commit atomically, any throw rolls back. */
  def inBatchTxn(url: String, batchesTable: String, offsetsTable: String,
                 batchId: Long, offsets: Map[String, Long],
                 dialect: SinkDialect = AnsiDialect)
                (body: Connection => Unit): Boolean = withConn(url) { c =>
    dialect.sessionInitSql.foreach(exec(c, _)) // e.g. MSSQL SERIALIZABLE pin
    c.setAutoCommit(false)
    // Embedded single-writer engines (DuckDB, SQLite-class) don't expose
    // the JDBC isolation knob — they are snapshot-isolated by design, the
    // same guarantee the reference's SQLite driver relies on without
    // setting a level (sqlite.rs). Server engines accept the pin.
    try c.setTransactionIsolation(Connection.TRANSACTION_SERIALIZABLE)
    catch { case _: java.sql.SQLFeatureNotSupportedException => () }
    try {
      val applied = {
        val ps = c.prepareStatement(
          s"SELECT COUNT(*) FROM $batchesTable WHERE batch_id = ?")
        ps.setLong(1, batchId)
        val rs = ps.executeQuery(); rs.next()
        val n = rs.getLong(1); rs.close(); ps.close(); n > 0
      }
      if (applied) { c.rollback(); false }
      else {
        upsertOffsets(c, offsetsTable, offsets, dialect)
        val bp = c.prepareStatement(s"INSERT INTO $batchesTable VALUES (?)")
        bp.setLong(1, batchId); bp.executeUpdate(); bp.close()
        body(c)
        c.commit()
        true
      }
    } catch { case e: Throwable => c.rollback(); throw e }
  }

  /** Offsets upsert into `table(source, offset_)` on an open txn: the
    * dialect's single-statement form when it has one (Postgres ON
    * CONFLICT, MSSQL if-exists-updlock), else update-then-insert. */
  def upsertOffsets(c: Connection, table: String,
                    offsets: Map[String, Long],
                    dialect: SinkDialect = AnsiDialect): Unit =
    dialect.offsetsUpsertSql(table) match {
      case Some(sql) =>
        val ps = c.prepareStatement(sql)
        offsets.foreach { case (src, off) =>
          dialect.bindOffsetsUpsert(ps, src, off); ps.executeUpdate()
        }
        ps.close()
      case None =>
        val upd = c.prepareStatement(dialect.offsetsUpdateSql(table))
        val ins = c.prepareStatement(dialect.offsetsInsertSql(table))
        offsets.foreach { case (src, off) =>
          upd.setLong(1, off); upd.setString(2, src)
          if (upd.executeUpdate() == 0) {
            ins.setString(1, src); ins.setLong(2, off); ins.executeUpdate()
          }
        }
        upd.close(); ins.close()
    }
}

/** Transactional delta-apply JDBC sink — the reference's exactly-once
  * protocol (db/mod.rs:369-394, sqlite.rs:238-259) rebuilt for
  * `foreachBatch`:
  *
  * ONE local DB transaction contains (a) the per-source offset upsert
  * into `{table}_offsets`, (b) the batch-id stamp (idempotent re-delivery:
  * a replayed micro-batch with an already-applied id is a no-op), and
  * (c) the delta application with bag semantics — mult > 0 inserts that
  * many copies; mult < 0 deletes all matching rows and re-inserts
  * `rows + mult` copies (the reference's SQLite strategy, sqlite.rs:
  * 238-259), with NULL-safe value matching (sqlite.rs:172-174); a
  * retraction and a re-insertion of the same index-column values in one
  * chunk apply as one UPDATE of the row instead (same table state, half
  * the row operations — see [[DeltaSql.applyTableDeltas]]).
  *
  * Schema evolution is the reference's version-stamped drop-and-rebuild
  * (db/mod.rs:46-53, 282-315): `schema_versions` mismatch ⇒ drop table +
  * offsets ⇒ recreate ⇒ caller replays from offset 0.
  *
  * Scale note: deltas cross the driver because one transaction must span
  * offsets + all rows — same invariant the reference enforces with a
  * single DB connection. The volume is the *view's churn per trigger*
  * (already consolidated), not the input rate, and the driver holds one
  * coalesced partition of it at a time, bounded in bytes by the adaptive
  * advisory partition size ([[DeltaSql.pull]]); a view whose churn per
  * trigger outgrows one transaction needs a partitioned-transaction
  * target (e.g. a Delta/Iceberg table) instead of a single SQL endpoint.
  */
class JdbcDeltaSink(url: String, spec: TableSpec,
                    dialect: SinkDialect = AnsiDialect,
                    rowBatchSize: Int = 1000) extends DeltaBatchSink with Serializable {

  private def withConn[A](f: Connection => A): A = DeltaSql.withConn(url)(f)

  private def exec(c: Connection, sql: String): Unit = DeltaSql.exec(c, sql)

  private def tableExists(c: Connection, name: String): Boolean =
    DeltaSql.tableExists(c, name)

  /** Version-checked DDL bootstrap (reference K5). Returns true if the
    * table was (re)created — caller must replay from scratch. */
  def bootstrap(): Boolean = bootstrapImpl(protocolTables = true)

  /** Union-member bootstrap: data table + index + version row only. The
    * union's SHARED `${group}_offsets`/`${group}_batches` carry the
    * protocol (reference db/mod.rs:237-258) — per-member offsets/batches
    * tables would be dead weight the sink never reads, so they are not
    * created (and leftovers from a standalone past are dropped). */
  private[sink] def bootstrapMember(): Boolean = bootstrapImpl(protocolTables = false)

  private def bootstrapImpl(protocolTables: Boolean): Boolean = withConn { c =>
    c.setAutoCommit(false)
    if (!tableExists(c, "schema_versions"))
      exec(c, "CREATE TABLE schema_versions (table_name VARCHAR(128) NOT NULL PRIMARY KEY, version INT NOT NULL)")
    val cur: Option[Int] = {
      val ps = c.prepareStatement("SELECT version FROM schema_versions WHERE table_name = ?")
      ps.setString(1, spec.name)
      val rs = ps.executeQuery()
      try { if (rs.next()) Some(rs.getInt(1)) else None } finally { rs.close(); ps.close() }
    }
    val recreate = cur != Some(spec.version)
    if (recreate) {
      for (t <- Seq(spec.name, spec.offsetsTable, s"${spec.name}_batches") if tableExists(c, t))
        exec(c, s"DROP TABLE $t")
      val cols = spec.columns.map(col => s"${col.name} ${col.sqlType}").mkString(", ")
      exec(c, dialect.createTableSql(spec.name, cols))
      spec.columns.filter(_.index).foreach { col =>
        exec(c, dialect.createIndexSql(s"idx_${spec.name}_${col.name}",
          spec.name, col.name))
      }
      if (protocolTables)
        DeltaSql.protocolTables(spec.offsetsTable, s"${spec.name}_batches", dialect)
          .foreach { case (_, ddl) => exec(c, ddl) }
      if (cur.isDefined) {
        val ps = c.prepareStatement("UPDATE schema_versions SET version = ? WHERE table_name = ?")
        ps.setInt(1, spec.version); ps.setString(2, spec.name)
        ps.executeUpdate(); ps.close()
      } else {
        val ps = c.prepareStatement("INSERT INTO schema_versions VALUES (?, ?)")
        ps.setString(1, spec.name); ps.setInt(2, spec.version)
        ps.executeUpdate(); ps.close()
      }
    }
    c.commit()
    recreate
  }

  /** Restart point (reference K6 `get_offsets`, db/mod.rs:126). */
  def getOffsets(): Map[String, Long] = DeltaSql.readOffsets(url, spec.offsetsTable)

  def lastBatchId(): Option[Long] = withConn { c =>
    DeltaSql.query(c, s"SELECT MAX(batch_id) FROM ${spec.name}_batches") { rs =>
      if (rs.next() && rs.getObject(1) != null) Some(rs.getLong(1)) else None
    }
  }

  /** The materialized view as a Spark SOURCE: `spark.read.jdbc` over the
    * sink's data table (reference K6 companion — downstream jobs consume
    * the maintained view without touching the event log). Partitioned
    * reads for big views go through the standard
    * `option("partitionColumn", …)` route on the same URL/table. */
  def readAsDataFrame(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.read.jdbc(url, spec.name, new java.util.Properties())

  /** Current table contents (bag, for tests/inspection). */
  def readRows(): Seq[Seq[Any]] = withConn { c =>
    DeltaSql.query(c, s"SELECT ${spec.colNames.mkString(", ")} FROM ${spec.name}") { rs =>
      val b = Seq.newBuilder[Seq[Any]]
      while (rs.next()) b += spec.colNames.indices.map(i => rs.getObject(i + 1))
      b.result()
    }
  }

  /** Apply one consolidated delta batch + offsets in ONE transaction
    * (reference db/mod.rs:369-394: offsets upsert + batch stamp + bag-
    * semantics deltas). Replayed batch ids are skipped (exactly-once
    * under at-least-once `foreachBatch` delivery). */
  def applyDeltas(offsets: Map[String, Long], batchId: Long,
                  deltas: Seq[(Seq[Any], Long)]): Boolean =
    applyDeltasStreamed(offsets, batchId, deltas.iterator)

  /** Iterator form: the batch rows stream through the open transaction
    * without ever being whole on the driver (replay-safe — see
    * [[DeltaSql.applyTableDeltas]]). */
  def applyDeltasStreamed(offsets: Map[String, Long], batchId: Long,
                          deltas: Iterator[(Seq[Any], Long)]): Boolean =
    DeltaSql.inBatchTxn(url, s"${spec.name}_batches", spec.offsetsTable,
      batchId, offsets, dialect)(c =>
      DeltaSql.applyTableDeltas(c, spec, deltas, dialect, rowBatchSize))

  /** `foreachBatch` adapter: consolidates the micro-batch's delta
    * DataFrame (must carry a `mult` column; plain DataFrames are lifted
    * at mult 1) and applies it transactionally through
    * [[applyDeltasStreamed]]. Offset columns (`_source`, `_offset`) are
    * split out if present.
    *
    * The micro-batch plan runs once. A batch with `_source` is read
    * twice, for its offsets and for its rows, so it is persisted and its
    * offsets are computed first ([[DeltaSql.onceOverBatch]]); a batch
    * without is read once and not cached. The consolidation's exchange
    * runs before the transaction opens, and its rows reach the DB through
    * [[DeltaSql.pull]]: coalesced by adaptive execution, usually one
    * partition and one job per batch, and one partition resident on the
    * driver at a time — so a full-history replay into a fresh sink is
    * bounded by the advisory partition size, not view size (the txn must
    * still span the whole batch; that single-connection invariant is the
    * reference's, runner.rs:113-122). A batch with a `mult` column is
    * consolidated co-located on the index columns
    * ([[DeltaSql.consolidatedRows]]), so a key's retraction and
    * re-insertion reach the DB as one UPDATE. */
  def foreachBatchWriter(): (DataFrame, Long) => Unit = { (df, batchId) =>
    def rows = DeltaSql.consolidatedRows(df.drop("_source", "_offset"), spec)
    if (df.columns.contains("_source"))
      DeltaSql.onceOverBatch(df)(offsets => applyDeltasStreamed(offsets, batchId, rows))
    else applyDeltasStreamed(Map.empty, batchId, rows)
    ()
  }
}

/** Multi-table fan-out sink (reference `Union`, db/mod.rs:237-258,
  * 273-458): one logical flow feeds several tables whose deltas and the
  * SHARED offsets/batch tables commit in one transaction — the
  * all-tables-or-nothing guarantee the reference gives a `Union` of up
  * to 5 record types.
  *
  * `aggMembers` extends the union BEYOND the reference's raw-row
  * members: an incrementally-maintained [[AggDeltaSink]] view can join
  * the group, its per-group adjustments applied inside the SAME shared
  * transaction as the raw members' deltas — one flow feeding a raw
  * audit table and its rollup, atomically, replay-idempotent on the
  * shared batch stamp.
  */
class UnionDeltaSink(url: String, group: String, specs: Seq[TableSpec],
                     dialect: SinkDialect = AnsiDialect,
                     rowBatchSize: Int = 1000,
                     aggMembers: Seq[AggDeltaSink] = Nil)
    extends DeltaBatchSink with Serializable {

  require(specs.map(_.name).toSet.intersect(aggMembers.map(_.name).toSet).isEmpty,
    "raw and aggregate members must not share table names")

  private val sinks = specs.map(sp => new JdbcDeltaSink(url, sp, dialect, rowBatchSize))

  def offsetsTable: String = s"${group}_offsets"

  /** Bootstrap every member table plus the shared offsets/batch tables.
    * True if any member was (re)created → full replay needed (the
    * reference replays the whole union on any member's version bump,
    * db/mod.rs:46-53). On rebuild the SHARED offset map and batch stamps
    * are cleared too — the reference removes and repopulates the offset
    * map with the table — otherwise stale offsets/batch ids would make
    * the replay a silent no-op and leave the recreated member empty. */
  def bootstrap(): Boolean = {
    val recreated = (sinks.map(_.bootstrapMember()) ++
      aggMembers.map(_.bootstrapMember())).exists(identity)
    DeltaSql.withConn(url) { c =>
      c.setAutoCommit(false)
      DeltaSql.protocolTables(offsetsTable, s"${group}_batches", dialect)
        .foreach { case (t, ddl) =>
          if (!DeltaSql.tableExists(c, t)) DeltaSql.exec(c, ddl)
          else if (recreated) DeltaSql.exec(c, s"DELETE FROM $t")
        }
      c.commit()
    }
    recreated
  }

  def getOffsets(): Map[String, Long] = DeltaSql.readOffsets(url, offsetsTable)

  /** `foreachBatch` adapter for the union: the micro-batch DataFrame
    * carries a `_table` tag column naming each delta row's target member
    * (the reference's `Union` dispatches on the record variant,
    * db/mod.rs:237-258). Rows are consolidated per member on their OWN
    * column set — members have different schemas, so untagged columns
    * irrelevant to a member must be null there — and the whole batch
    * commits in one transaction. Offset columns `_source`/`_offset`
    * split out as in [[JdbcDeltaSink.foreachBatchWriter]].
    *
    * The micro-batch plan runs once for all members
    * ([[DeltaSql.onceOverBatch]]): the batch is persisted, the shared
    * offsets are computed before the transaction opens, and every
    * member's filter-and-consolidate inside the transaction reads the
    * cache. Raw members consolidate as the single-table writer does, so
    * their retract/re-insert pairs apply as UPDATEs too, and every member
    * is pulled through [[DeltaSql.pull]]. */
  def foreachBatchWriter(): (DataFrame, Long) => Unit = { (df, batchId) =>
    DeltaSql.onceOverBatch(df) { offsets =>
      // one lazy iterator per member, each drained inside the shared txn
      // (DeltaSql.pull: one coalesced partition on the driver at a time)
      DeltaSql.inBatchTxn(url, s"${group}_batches", offsetsTable,
        batchId, offsets, dialect) { c =>
        specs.foreach { sp =>
          val rows = DeltaSql.consolidatedRows(df.filter(col("_table") === sp.name)
            .select(sp.colNames.map(col) :+ col(Deltas.MULT): _*), sp)
          DeltaSql.applyTableDeltas(c, sp, rows, dialect, rowBatchSize)
        }
        // aggregate members: same tag dispatch, their rows reduced to
        // per-group adjustments (distributed) and applied in THIS txn
        aggMembers.foreach { agg =>
          agg.applyAdjustmentsInTxn(c, agg.adjustmentsOf(
            df.filter(col("_table") === agg.name)
              .select(agg.dataColNames.map(col) :+ col(Deltas.MULT): _*)))
        }
      }
    }
    ()
  }

  /** One transaction across ALL member tables + shared offsets. */
  def applyDeltas(offsets: Map[String, Long], batchId: Long,
                  perTable: Map[String, Seq[(Seq[Any], Long)]]): Boolean =
    applyMixed(offsets, batchId, perTable)

  /** [[applyDeltas]] extended to aggregate members: raw deltas and
    * per-group adjustments (key values, dn, per-sum ds) commit in the
    * one shared transaction — all-members-or-nothing, raw and view
    * alike. Replayed batch ids skip the whole batch. */
  def applyMixed(offsets: Map[String, Long], batchId: Long,
                 perTable: Map[String, Seq[(Seq[Any], Long)]],
                 perAgg: Map[String, Seq[(Seq[Any], Long, Seq[Any])]] = Map.empty)
      : Boolean = {
    val unknown = perTable.keySet -- specs.map(_.name).toSet
    require(unknown.isEmpty, s"unknown tables in delta batch: $unknown")
    val unknownAgg = perAgg.keySet -- aggMembers.map(_.name).toSet
    require(unknownAgg.isEmpty, s"unknown aggregate members: $unknownAgg")
    DeltaSql.inBatchTxn(url, s"${group}_batches", offsetsTable,
      batchId, offsets, dialect) { c =>
      specs.foreach { sp =>
        perTable.get(sp.name).filter(_.nonEmpty)
          .foreach(ds => DeltaSql.applyTableDeltas(c, sp, ds.iterator,
            dialect, rowBatchSize))
      }
      aggMembers.foreach { agg =>
        perAgg.get(agg.name).filter(_.nonEmpty)
          .foreach(adj => agg.applyAdjustmentsInTxn(c, adj.iterator))
      }
    }
  }
}
