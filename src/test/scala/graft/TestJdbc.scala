package graft

import java.lang.reflect.{InvocationHandler, Method, Proxy}
import java.sql.{Connection, DriverManager, PreparedStatement, Statement}

/** Shared test-only JDBC plumbing:
  *
  *  1. the DuckDB driver loaded reflectively from the local build cache
  *    (no library dependency; absent jar ⇒ suites cancel as env-blocked);
  *  2. a `jdbc:tsql:` SHIM DRIVER that executes the FOUR T-SQL statement
  *    shapes [[graft.sink.MssqlDialect]] emits — `IF NOT EXISTS
  *    (… sys.tables …) CREATE TABLE`, the sys.indexes twin,
  *    batched `DELETE TOP (?)`, and the UPDLOCK-guarded
  *    if-exists offsets upsert — with their T-SQL semantics on top of
  *    any underlying JDBC engine, parameter order preserved. Statement
  *    TEXT is untouched in the product path: the sink prepares the
  *    dialect's exact SQL; the shim pattern-matches it at the JDBC
  *    boundary (a micro "T-SQL-compatible engine", which the container
  *    lacks), so live protocol runs prove the MSSQL statements' bindings
  *    and row-state semantics rather than only their golden text.
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
    * ORDER BY is equally unordered). The sink sends these deletes as a
    * statement batch: `addBatch` queues the bound parameters, and
    * `executeBatch` runs the queue in order and returns each entry's
    * deleted-row count, as a T-SQL driver does. */
  private def delTopStatement(real: Connection, table: String, where: String): PreparedStatement = {
    val params = scala.collection.mutable.Map.empty[Int, AnyRef]
    val batch = scala.collection.mutable.ArrayBuffer.empty[Map[Int, AnyRef]]
    def run(bound: Map[Int, AnyRef]): Int = {
      val cap = bound(1) match {
        case l: java.lang.Long => l.longValue
        case i: java.lang.Integer => i.longValue
      }
      val ps = real.prepareStatement(s"DELETE FROM $table WHERE rowid IN " +
        s"(SELECT rowid FROM $table WHERE $where LIMIT $cap)")
      try {
        (1 to where.count(_ == '?'))
          .foreach(i => ps.setObject(i, bound(i + 1)))
        ps.executeUpdate()
      } finally ps.close()
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
        case other => throw new UnsupportedOperationException(s"tsql-shim DELETE TOP: $other")
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
