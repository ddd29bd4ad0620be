package graft.sink

/** Per-engine SQL generation for the delta-sink protocol, factored out of
  * the connection handling so each statement an engine would receive is a
  * pure function of the table spec — provable by golden-statement tests
  * without a live server (the reference's own Postgres/MSSQL suites are
  * env-gated for the same reason, postgre.rs:303-307).
  *
  * Row changes take four statement shapes: insert, delete (all matching
  * rows, or a bounded count where the engine has one), an in-place
  * UPDATE that turns one retracted row into an inserted row with the
  * same index-column values, and the offsets upsert.
  *
  * Three dialects, mirroring the reference's three drivers:
  *  - [[AnsiDialect]] — the portable statements the Derby-backed live
  *    tests exercise (the reference's SQLite driver shape,
  *    sqlite.rs:238-259): delete-all + reinsert `removed + mult` copies,
  *    a plain UPDATE (every matching copy changes; the sink repairs the
  *    surplus), two-step offsets upsert.
  *  - [[PostgresDialect]] — postgre.rs:150-162, 233-255: `create table/
  *    index if not exists`, plain delete with the affected-row count
  *    feeding the reinsert, plain UPDATE, single-statement `ON CONFLICT`
  *    offsets upsert (db/mod.rs:384-394).
  *  - [[MssqlDialect]] — mssql.rs:199-226, 142, 288-299: `if not exists
  *    (select * from sys.tables …)` DDL, parameterized `DELETE TOP (?)`
  *    so a retraction deletes exactly `-mult` rows (no reinsert),
  *    `UPDATE TOP (1)` so an update changes at most one copy, the
  *    `updlock`-guarded if-exists upsert, and a SERIALIZABLE session pin.
  */
trait SinkDialect extends Serializable {
  def name: String

  def insertSql(spec: TableSpec): String =
    s"INSERT INTO ${spec.name} (${spec.colNames.mkString(", ")}) " +
      s"VALUES (${spec.colNames.map(_ => "?").mkString(", ")})"

  def deleteAllSql(spec: TableSpec, where: String): String =
    s"DELETE FROM ${spec.name} WHERE $where"

  /** Parameterized bounded delete (first parameter = row cap), if the
    * engine supports one. A dialect with this statement retracts
    * `-mult` rows directly; without it the sink deletes all matching
    * rows and reinserts `removed + mult` copies. */
  def deleteLimitSql(spec: TableSpec, where: String): Option[String] = None

  /** In-place rewrite of a row matching `where`: the non-index columns
    * are set (their values bind first, in spec order; `where`'s follow).
    * The sink only pairs a retraction with an insertion whose index-column
    * values are equal, so the index columns keep their values. Without a
    * row bound every matching copy changes and the sink repairs the
    * surplus from the update count. */
  def updateSql(spec: TableSpec, where: String): String =
    s"UPDATE ${spec.name} SET ${setClause(spec)} WHERE $where"

  protected def setClause(spec: TableSpec): String =
    spec.columns.filterNot(_.index).map(c => s"${c.name} = ?").mkString(", ")

  /** Single-statement offsets upsert, if the engine has one; `None`
    * falls back to the update-then-insert-if-absent pair. */
  def offsetsUpsertSql(table: String): Option[String] = None

  def offsetsUpdateSql(table: String): String =
    s"UPDATE $table SET offset_ = ? WHERE source = ?"

  def offsetsInsertSql(table: String): String =
    s"INSERT INTO $table VALUES (?, ?)"

  /** Parameter binder matching [[offsetsUpsertSql]]'s placeholder order
    * (dialect-specific — the MSSQL form repeats the source three times). */
  def bindOffsetsUpsert(ps: java.sql.PreparedStatement,
                        source: String, offset: Long): Unit = {
    ps.setString(1, source); ps.setLong(2, offset)
  }

  def createTableSql(name: String, definition: String): String =
    s"CREATE TABLE $name ($definition)"

  def createIndexSql(index: String, table: String, definition: String): String =
    s"CREATE INDEX $index ON $table ($definition)"

  /** Statements to run once per connection (isolation pins etc.). */
  def sessionInitSql: Seq[String] = Seq.empty
}

/** Portable ANSI statements; the live Derby suite runs this dialect. */
case object AnsiDialect extends SinkDialect {
  val name = "ansi"
}

/** PostgreSQL statements (reference postgre.rs + db/mod.rs:384-394). */
case object PostgresDialect extends SinkDialect {
  val name = "postgres"

  override def createTableSql(name: String, definition: String): String =
    s"CREATE TABLE IF NOT EXISTS $name ($definition)"

  override def createIndexSql(index: String, table: String, definition: String): String =
    s"CREATE INDEX IF NOT EXISTS $index ON $table ($definition)"

  override def offsetsUpsertSql(table: String): Option[String] = Some(
    s"INSERT INTO $table (source, offset_) VALUES (?, ?) " +
      "ON CONFLICT(source) DO UPDATE SET offset_ = excluded.offset_")
}

/** SQL Server statements (reference mssql.rs). */
case object MssqlDialect extends SinkDialect {
  val name = "mssql"

  override def createTableSql(name: String, definition: String): String =
    s"IF NOT EXISTS (SELECT * FROM sys.tables WHERE name = '$name') " +
      s"CREATE TABLE $name ($definition)"

  override def createIndexSql(index: String, table: String, definition: String): String =
    s"IF NOT EXISTS (SELECT * FROM sys.indexes WHERE name = '$index') " +
      s"CREATE INDEX $index ON $table ($definition)"

  /** mssql.rs:216-218 `delete top ({param}) {clause}` — the cap is a
    * bind parameter, so one prepared statement serves every retraction. */
  override def deleteLimitSql(spec: TableSpec, where: String): Option[String] =
    Some(s"DELETE TOP (?) FROM ${spec.name} WHERE $where")

  /** Bounded like the delete: one retracted copy becomes the inserted
    * row, so the update count is 0 or 1. */
  override def updateSql(spec: TableSpec, where: String): String =
    s"UPDATE TOP (1) ${spec.name} SET ${setClause(spec)} WHERE $where"

  /** mssql.rs:288-299 — correct only while this sink is the table's sole
    * writer (the updlock guard; the reference carries the same warning). */
  override def offsetsUpsertSql(table: String): Option[String] = Some(
    s"IF EXISTS (SELECT * FROM $table WITH (UPDLOCK) WHERE source = ?) " +
      s"UPDATE $table SET offset_ = ? WHERE source = ? " +
      s"ELSE INSERT $table (source, offset_) VALUES (?, ?)")

  override def bindOffsetsUpsert(ps: java.sql.PreparedStatement,
                                 source: String, offset: Long): Unit = {
    ps.setString(1, source)   // IF EXISTS (... WHERE source = ?)
    ps.setLong(2, offset)     // UPDATE ... SET offset_ = ?
    ps.setString(3, source)   // UPDATE ... WHERE source = ?
    ps.setString(4, source)   // INSERT ... VALUES (?,
    ps.setLong(5, offset)     //                       ?)
  }

  /** mssql.rs:142 — pinned per connection before any protocol work. */
  override def sessionInitSql: Seq[String] =
    Seq("SET TRANSACTION ISOLATION LEVEL SERIALIZABLE")
}
