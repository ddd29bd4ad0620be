package graft

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, DriverManager, PreparedStatement, Statement}

/** Shared test-only JDBC plumbing:
  *
  *  1. the DuckDB driver loaded reflectively from the local build cache
  *    (no library dependency; absent jar ⇒ suites cancel as env-blocked);
  *  2. a `jdbc:tsql:` SHIM DRIVER that executes the FIVE T-SQL statement
  *    shapes [[graft.sink.MssqlDialect]] emits — `IF NOT EXISTS
  *    (… sys.tables …) CREATE TABLE`, the sys.indexes twin,
  *    batched `DELETE TOP (?)`, batched `UPDATE TOP (1)`, and the UPDLOCK-guarded
  *    if-exists offsets upsert — with their T-SQL semantics on top of
  *    any underlying JDBC engine, parameter order preserved. Statement
  *    TEXT is untouched in the product path: the sink prepares the
  *    dialect's exact SQL; the shim pattern-matches it at the JDBC
  *    boundary (a micro "T-SQL-compatible engine", which the container
  *    lacks), so live protocol runs prove the MSSQL statements' bindings
  *    and row-state semantics rather than only their golden text;
  *  3. a `jdbc:count:` wrapper driver ([[Counting]]) that counts the row
  *    operations the sink sends, per statement verb and table.
  */
object TestJdbc {

  /** DriverManager only honors drivers whose classloader can "see" the
    * caller; a URLClassLoader-loaded driver needs this delegate. */
  private class DriverShim(d: java.sql.Driver) extends java.sql.Driver {
    def connect(u: String, p: java.util.Properties): Connection = d.connect(u, p)
    def acceptsURL(u: String): Boolean = d.acceptsURL(u)
    def getPropertyInfo(u: String, p: java.util.Properties): Array[java.sql.DriverPropertyInfo] =
      d.getPropertyInfo(u, p)
    def getMajorVersion: Int = d.getMajorVersion
    def getMinorVersion: Int = d.getMinorVersion
    def jdbcCompliant(): Boolean = d.jdbcCompliant()
    def getParentLogger: java.util.logging.Logger = d.getParentLogger
  }

  /** One-shot per JVM: register the cached DuckDB driver + the tsql shim. */
  lazy val duckdbReady: Boolean = {
    import scala.jdk.CollectionConverters._
    val roots = (sys.env.get("COURSIER_CACHE").toSeq :+
      (sys.props("user.home") + "/.cache/coursier"))
      .map(new java.io.File(_)).filter(_.isDirectory)
    val jar = roots.iterator.flatMap { r =>
      val s = java.nio.file.Files.walk(r.toPath)
      try s.iterator().asScala
        .filter(_.getFileName.toString.matches("duckdb_jdbc-.*\\.jar")).toList
      finally s.close()
    }.toSeq.headOption
    jar.exists { j =>
      try {
        val cl = new java.net.URLClassLoader(Array(j.toUri.toURL), getClass.getClassLoader)
        val drv = cl.loadClass("org.duckdb.DuckDBDriver")
          .getDeclaredConstructor().newInstance().asInstanceOf[java.sql.Driver]
        DriverManager.registerDriver(new DriverShim(drv))
        DriverManager.registerDriver(TsqlDriver)
        true
      } catch { case _: Throwable => false }
    }
  }

  // ---- the T-SQL statement shapes MssqlDialect emits, verbatim ----
  private val DdlTable =
    """(?s)IF NOT EXISTS \(SELECT \* FROM sys\.tables WHERE name = '([^']+)'\) (CREATE TABLE .+)""".r
  private val DdlIndex =
    """(?s)IF NOT EXISTS \(SELECT \* FROM sys\.indexes WHERE name = '([^']+)'\) (CREATE INDEX .+)""".r
  private val DelTop = """DELETE TOP \(\?\) FROM (\S+) WHERE (.+)""".r
  private val UpdTop = """UPDATE TOP \(1\) (\S+) SET (.+) WHERE (.+)""".r
  private val Upsert =
    ("""IF EXISTS \(SELECT \* FROM (\S+) WITH \(UPDLOCK\) WHERE source = \?\) """ +
      """UPDATE \S+ SET offset_ = \? WHERE source = \? """ +
      """ELSE INSERT \S+ \(source, offset_\) VALUES \(\?, \?\)""").r
  private val Isolation = "SET TRANSACTION ISOLATION LEVEL SERIALIZABLE"

  object TsqlDriver extends java.sql.Driver {
    val PREFIX = "jdbc:tsql:"
    def connect(u: String, p: java.util.Properties): Connection =
      if (!acceptsURL(u)) null
      else tsqlConnection(DriverManager.getConnection(u.substring(PREFIX.length)))
    def acceptsURL(u: String): Boolean = u != null && u.startsWith(PREFIX)
    def getPropertyInfo(u: String, p: java.util.Properties): Array[java.sql.DriverPropertyInfo] =
      Array.empty
    def getMajorVersion: Int = 1
    def getMinorVersion: Int = 0
    def jdbcCompliant(): Boolean = false
    def getParentLogger: java.util.logging.Logger =
      java.util.logging.Logger.getLogger("tsql-shim")
  }

  /** `jdbc:count:<url>` connects to `<url>` and counts, per (verb, table),
    * the rows each INSERT/UPDATE/DELETE prepared statement sends (one per
    * `addBatch` entry or `executeUpdate` call) and the affected-row counts
    * its batches return. Counters are JVM-wide; `reset()` clears them. */
  object Counting extends java.sql.Driver {
    val PREFIX = "jdbc:count:"
    private val Target =
      """(?is)\s*(INSERT|UPDATE|DELETE)\s+(?:TOP\s*\([^)]*\)\s+)?(?:INTO\s+|FROM\s+)?(\w+).*""".r
    private val sentRows = new java.util.concurrent.ConcurrentHashMap[(String, String), Long]()
    private val affectedRows =
      new java.util.concurrent.ConcurrentHashMap[(String, String), Vector[Int]]()
    private lazy val registered: Unit = DriverManager.registerDriver(this)

    /** `url` behind the counting driver. */
    def url(inner: String): String = { registered; PREFIX + inner }
    def reset(): Unit = { sentRows.clear(); affectedRows.clear() }
    /** Rows sent by `verb` statements on `table` (case-insensitive). */
    def sent(verb: String, table: String): Long =
      sentRows.getOrDefault((verb.toUpperCase, table.toUpperCase), 0L)
    /** Every affected-row count `verb` batches on `table` returned. */
    def affected(verb: String, table: String): Vector[Int] =
      affectedRows.getOrDefault((verb.toUpperCase, table.toUpperCase), Vector.empty)

    def connect(u: String, p: java.util.Properties): Connection =
      if (!acceptsURL(u)) null
      else {
        val real = DriverManager.getConnection(u.substring(PREFIX.length))
        proxy(classOf[Connection]) { (m, args) =>
          val out = if (args == null) m.invoke(real) else m.invoke(real, args: _*)
          (m.getName, if (args == null) null else args(0)) match {
            case ("prepareStatement", sql: String) => sql match {
              case Target(verb, table) =>
                counted(out.asInstanceOf[PreparedStatement], (verb.toUpperCase, table.toUpperCase))
              case _ => out
            }
            case _ => out
          }
        }
      }
    private def counted(ps: PreparedStatement, key: (String, String)): PreparedStatement =
      proxy(classOf[PreparedStatement]) { (m, args) =>
        val out = if (args == null) m.invoke(ps) else m.invoke(ps, args: _*)
        if (args == null) m.getName match {
          case "addBatch" | "executeUpdate" => sentRows.merge(key, 1L, _ + _)
          case "executeBatch" =>
            affectedRows.merge(key, out.asInstanceOf[Array[Int]].toVector, _ ++ _)
          case _ => ()
        }
        out
      }
    def acceptsURL(u: String): Boolean = u != null && u.startsWith(PREFIX)
    def getPropertyInfo(u: String, p: java.util.Properties): Array[java.sql.DriverPropertyInfo] =
      Array.empty
    def getMajorVersion: Int = 1
    def getMinorVersion: Int = 0
    def jdbcCompliant(): Boolean = false
    def getParentLogger: java.util.logging.Logger =
      java.util.logging.Logger.getLogger("count-jdbc")
  }

  private def proxy[T](iface: Class[T])(h: (Method, Array[AnyRef]) => AnyRef): T =
    Proxy.newProxyInstance(iface.getClassLoader, Array[Class[_]](iface),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
          try h(m, args)
          catch {
            // unwrap so delegated calls surface their REAL exception
            // (e.g. SQLFeatureNotSupportedException, which the sink
            // catches by type) instead of UndeclaredThrowableException
            case e: java.lang.reflect.InvocationTargetException =>
              throw Option(e.getCause).getOrElse(e)
          }
      }).asInstanceOf[T]

  private def count1(real: Connection, sql: String, arg: AnyRef): Long = {
    val ps = real.prepareStatement(sql)
    try {
      ps.setObject(1, arg)
      val rs = ps.executeQuery(); rs.next()
      try rs.getLong(1) finally rs.close()
    } finally ps.close()
  }

  private def runUpdate(real: Connection, sql: String, args: AnyRef*): Int = {
    val ps = real.prepareStatement(sql)
    try {
      args.zipWithIndex.foreach { case (a, i) => ps.setObject(i + 1, a) }
      ps.executeUpdate()
    } finally ps.close()
  }

  /** True if `sql` was a T-SQL shape this shim executed. */
  private def runTsql(real: Connection, sql: String): Boolean = sql match {
    case Isolation => true // embedded engines are snapshot-isolated; pin is a no-op
    case DdlTable(name, create) =>
      if (count1(real, "SELECT count(*) FROM information_schema.tables " +
          "WHERE lower(table_name) = lower(?)", name) == 0)
        runUpdate(real, create)
      true
    case DdlIndex(name, create) =>
      if (count1(real, "SELECT count(*) FROM duckdb_indexes() " +
          "WHERE lower(index_name) = lower(?)", name) == 0)
        runUpdate(real, create)
      true
    case _ => false
  }

  /** `DELETE TOP (?) FROM t WHERE w` — parameter 1 is the row cap, the
    * rest bind into `w` (the sink's binder contract). Translated to a
    * rowid-subquery bounded delete; rows matching `w` are value-identical
    * copies, so which `cap` of them go is immaterial (T-SQL TOP without
    * ORDER BY is equally unordered). */
  private def delTopStatement(real: Connection, table: String, where: String): PreparedStatement =
    batchedStatement(real, "DELETE TOP") { bound =>
      val cap = bound(1) match {
        case l: java.lang.Long => l.longValue
        case i: java.lang.Integer => i.longValue
      }
      (s"DELETE FROM $table WHERE rowid IN " +
        s"(SELECT rowid FROM $table WHERE $where LIMIT $cap)",
        (1 to where.count(_ == '?')).map(i => bound(i + 1)))
    }

  /** `UPDATE TOP (1) t SET s WHERE w` — the SET parameters bind first,
    * then `w`'s. Translated with the same rowid-subquery pattern, capped
    * at one row, parameter order kept. */
  private def updTopStatement(real: Connection, table: String, set: String,
                              where: String): PreparedStatement =
    batchedStatement(real, "UPDATE TOP") { bound =>
      (s"UPDATE $table SET $set WHERE rowid IN " +
        s"(SELECT rowid FROM $table WHERE $where LIMIT 1)",
        (1 to bound.size).map(bound))
    }

  /** A bounded T-SQL statement the sink sends as a statement batch:
    * `addBatch` queues the bound parameters, and `executeBatch` runs the
    * queue in order through `translate`'s statement and parameters and
    * returns each entry's affected-row count, as a T-SQL driver does. */
  private def batchedStatement(real: Connection, shape: String)
                              (translate: Map[Int, AnyRef] => (String, Seq[AnyRef]))
      : PreparedStatement = {
    val params = scala.collection.mutable.Map.empty[Int, AnyRef]
    val batch = scala.collection.mutable.ArrayBuffer.empty[Map[Int, AnyRef]]
    def run(bound: Map[Int, AnyRef]): Int = {
      val (sql, args) = translate(bound)
      runUpdate(real, sql, args: _*)
    }
    proxy(classOf[PreparedStatement]) { (m, args) =>
      m.getName match {
        case s if s.startsWith("set") && args != null && args.length == 2 =>
          params(args(0).asInstanceOf[java.lang.Integer].intValue) = args(1); null
        case "addBatch" if args == null => batch += params.toMap; null
        case "executeBatch" =>
          try batch.map(run).toArray finally batch.clear()
        case "clearBatch" => batch.clear(); null
        case "close" => null
        case other => throw new UnsupportedOperationException(s"tsql-shim $shape: $other")
      }
    }
  }

  /** The UPDLOCK-guarded if-exists upsert — five parameters in MSSQL's
    * order (probe source, update offset, update source, insert source,
    * insert offset), executed as probe → UPDATE or INSERT. */
  private def upsertStatement(real: Connection, table: String): PreparedStatement = {
    val params = scala.collection.mutable.Map.empty[Int, AnyRef]
    proxy(classOf[PreparedStatement]) { (m, args) =>
      m.getName match {
        case s if s.startsWith("set") && args != null && args.length == 2 =>
          params(args(0).asInstanceOf[java.lang.Integer].intValue) = args(1); null
        case "executeUpdate" =>
          val exists = count1(real,
            s"SELECT count(*) FROM $table WHERE source = ?", params(1)) > 0
          val n =
            if (exists) runUpdate(real,
              s"UPDATE $table SET offset_ = ? WHERE source = ?", params(2), params(3))
            else runUpdate(real,
              s"INSERT INTO $table (source, offset_) VALUES (?, ?)", params(4), params(5))
          Int.box(n)
        case "close" => null
        case other => throw new UnsupportedOperationException(s"tsql-shim upsert: $other")
      }
    }
  }

  private def tsqlStatement(real: Connection, inner: Statement): Statement =
    proxy(classOf[Statement]) { (m, args) =>
      m.getName match {
        case "executeUpdate" | "execute"
            if args != null && args.length == 1 && args(0).isInstanceOf[String]
              && runTsql(real, args(0).asInstanceOf[String]) =>
          if (m.getName == "execute") java.lang.Boolean.FALSE else Int.box(0)
        case _ =>
          if (args == null) m.invoke(inner) else m.invoke(inner, args: _*)
      }
    }

  def tsqlConnection(real: Connection): Connection =
    proxy(classOf[Connection]) { (m, args) =>
      m.getName match {
        case "prepareStatement" if args != null && args(0).isInstanceOf[String] =>
          args(0).asInstanceOf[String] match {
            case DelTop(t, w) => delTopStatement(real, t, w)
            case UpdTop(t, set, w) => updTopStatement(real, t, set, w)
            case Upsert(t)    => upsertStatement(real, t)
            case _ => if (args == null) m.invoke(real) else m.invoke(real, args: _*)
          }
        case "createStatement" if args == null || args.isEmpty =>
          tsqlStatement(real, real.createStatement())
        case _ =>
          if (args == null) m.invoke(real) else m.invoke(real, args: _*)
      }
    }
}
