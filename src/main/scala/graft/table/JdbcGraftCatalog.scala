package graft.table

import java.nio.file.Paths
import java.sql.{Connection, DriverManager, SQLException}

import org.apache.spark.sql.SparkSession

/** JDBC pointer catalog (the jdbc-catalog analog), backed by the Derby
  * embedded engine that ships with Spark. State is two relational tables —
  * `graft_namespaces(ns)` and `graft_tables(ns, tbl, location)` — while
  * table DATA stays graft-format directories under the warehouse. The
  * catalog row is a POINTER: `(ns, tbl) -> location`, with the location
  * deliberately decoupled from the name (a fresh uuid dir per create), so:
  *
  *  - `renameTable` is a single-row UPDATE — pure metadata, O(1) at any
  *    table size. On an object store (where a directory "move" is a copy
  *    of every object) this is the only rename that survives 100 TB; the
  *    filesystem backend's `Files.move` is the POSIX-only shortcut.
  *  - CAS create/rename ride the primary key `(ns, tbl)`: a duplicate
  *    INSERT raises SQLState 23505 and surfaces as "table exists" — two
  *    racing writers cannot both win a name, the same guarantee the
  *    filesystem backend gets from atomic directory creation.
  *
  * Derby embedded scope: one JVM boots a given database directory at a
  * time (perfect for tests and single-driver deployments); a
  * multi-driver deployment would point `spark.graft.catalog.jdbc.url` at
  * a network database honoring the same SQL, which is exactly the
  * reference's jdbc-catalog topology. Connections are cached per URL —
  * catalog instances are cheap and share the booted engine. */
class JdbcGraftCatalog(val spark: SparkSession, val url: String,
    val warehouse: String) extends Catalog {

  private def conn: Connection = JdbcGraftCatalog.connection(url)
  // one mutex per booted database: instances sharing a URL share it
  private def lock: AnyRef = conn

  private def withStmt[A](sql: String, args: Seq[String])(f: java.sql.PreparedStatement => A): A =
    lock.synchronized {
      val ps = conn.prepareStatement(sql)
      try { args.zipWithIndex.foreach { case (a, i) => ps.setString(i + 1, a) }; f(ps) }
      finally ps.close()
    }

  private def queryStrings(sql: String, args: String*): Seq[String] =
    withStmt(sql, args) { ps =>
      val rs = ps.executeQuery()
      val b = Seq.newBuilder[String]
      while (rs.next()) b += rs.getString(1)
      b.result()
    }

  private def update(sql: String, args: String*): Int =
    withStmt(sql, args)(_.executeUpdate())

  def createNamespace(ns: String): Unit =
    try update("INSERT INTO graft_namespaces VALUES (?)", ns)
    catch { case e: SQLException if e.getSQLState == "23505" => () } // exists: idempotent

  def listNamespaces(): Seq[String] =
    queryStrings("SELECT ns FROM graft_namespaces ORDER BY ns")

  def dropNamespace(ns: String): Unit = {
    require(queryStrings(
      "SELECT tbl FROM graft_tables WHERE ns = ?", ns).isEmpty,
      s"namespace $ns is not empty")
    update("DELETE FROM graft_namespaces WHERE ns = ?", ns)
  }

  private def location(ns: String, name: String): Option[String] =
    queryStrings("SELECT location FROM graft_tables WHERE ns = ? AND tbl = ?",
      ns, name).headOption

  def createTable(ns: String, name: String, ddl: String,
      partitionBy: Seq[String] = Nil, properties: Map[String, String] = Map.empty,
      formatVersion: Int = 3): GraftTable = {
    createNamespace(ns)
    // pointer indirection: the data dir carries a uuid, never the table
    // name — renames must stay metadata-only
    val loc = Paths.get(warehouse, ns,
      java.util.UUID.randomUUID.toString.take(8) + "_" +
        name.replaceAll("[^A-Za-z0-9._-]", "_")).toString
    try update("INSERT INTO graft_tables VALUES (?, ?, ?)", ns, name, loc)
    catch {
      case e: SQLException if e.getSQLState == "23505" =>
        throw new IllegalStateException(s"table $ns.$name exists")
    }
    try GraftTable.create(spark, loc, ddl, partitionBy, properties, formatVersion)
    catch { case e: Throwable => // roll the pointer back: no dangling row
      update("DELETE FROM graft_tables WHERE ns = ? AND tbl = ?", ns, name)
      throw e
    }
  }

  def loadTable(ns: String, name: String): GraftTable =
    GraftTable.load(spark, location(ns, name).getOrElse(
      throw new IllegalArgumentException(s"no such table $ns.$name")))

  def tableExists(ns: String, name: String): Boolean =
    location(ns, name).isDefined

  def listTables(ns: String): Seq[String] =
    // dot-prefixed rows are in-flight staging tables (CTAS REPLACE swap)
    queryStrings("SELECT tbl FROM graft_tables WHERE ns = ? ORDER BY tbl", ns)
      .filterNot(_.startsWith("."))

  def renameTable(ns: String, from: String, to: String): Unit = lock.synchronized {
    require(tableExists(ns, from), s"no such table $ns.$from")
    if (tableExists(ns, to)) throw new IllegalStateException(s"table $ns.$to exists")
    // single-row UPDATE: the data dir never moves (see class doc); the PK
    // turns a lost race into a 23505, not a silent overwrite
    try update("UPDATE graft_tables SET tbl = ? WHERE ns = ? AND tbl = ?",
      to, ns, from)
    catch {
      case e: SQLException if e.getSQLState == "23505" =>
        throw new IllegalStateException(s"table $ns.$to exists")
    }
  }

  def dropTable(ns: String, name: String): Unit = lock.synchronized {
    location(ns, name).foreach { loc =>
      update("DELETE FROM graft_tables WHERE ns = ? AND tbl = ?", ns, name)
      GraftTable.deleteTree(Paths.get(loc))
    }
  }

  protected def stagingTables(ns: String): Seq[(String, String)] =
    queryStrings("SELECT tbl FROM graft_tables WHERE ns = ? AND tbl LIKE '.%'", ns)
      .flatMap(s => location(ns, s).map(s -> _))

  // the whole sweep holds the catalog lock, as every pointer update does
  override def cleanStaging(ns: String, olderThanMs: Long): (Int, Int) =
    lock.synchronized(super.cleanStaging(ns, olderThanMs))
}

object JdbcGraftCatalog {
  def defaultUrl(warehouse: String): String =
    s"jdbc:derby:$warehouse/.catalog;create=true"

  // Derby boots a database once per JVM; cache the connection per URL so
  // every catalog instance (the SQL layer makes one per statement) shares
  // the booted engine instead of churning boots
  private val conns = new java.util.concurrent.ConcurrentHashMap[String, Connection]()

  private def connection(url: String): Connection =
    conns.computeIfAbsent(url, { u =>
      // keep Derby's boot log out of the cwd
      if (System.getProperty("derby.stream.error.file") == null)
        System.setProperty("derby.stream.error.file",
          System.getProperty("java.io.tmpdir") + "/graft-derby.log")
      val c = DriverManager.getConnection(u)
      initSchema(c)
      c
    })

  private def initSchema(c: Connection): Unit = {
    val st = c.createStatement()
    try {
      for (ddl <- Seq(
        "CREATE TABLE graft_namespaces (ns VARCHAR(256) PRIMARY KEY)",
        """CREATE TABLE graft_tables (
          | ns VARCHAR(256) NOT NULL,
          | tbl VARCHAR(256) NOT NULL,
          | location VARCHAR(4096) NOT NULL,
          | PRIMARY KEY (ns, tbl))""".stripMargin))
        try st.executeUpdate(ddl)
        catch { case e: SQLException if e.getSQLState == "X0Y32" => () } // exists
    } finally st.close()
  }
}
