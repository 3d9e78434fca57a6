package graft.table

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The catalog contract: namespace + table-pointer management over a graft
  * warehouse. Two backends prove the seam the reference exposes through its
  * catalog matrix (hadoop/jdbc/rest/...): [[GraftCatalog]] (filesystem — the
  * hadoop-catalog analog, state IS the directory tree) and
  * [[JdbcGraftCatalog]] (pointer rows in an embedded Derby database — the
  * jdbc-catalog analog, state is a table of `(ns, tbl) -> location`
  * pointers). Everything above this trait (SQL DDL/DML resolution, RTAS
  * swap + recovery, the q_catalog query family) is backend-agnostic;
  * [[Catalog.apply]] picks the backend from `spark.graft.catalog`.
  *
  * CAS discipline both backends honor: `createTable` fails on an existing
  * name (never overwrites), `renameTable` fails if the target exists, and
  * the RTAS staging flow (stagingName → materialize → drop old → rename in)
  * is recoverable by [[Catalog.cleanStaging]] at every crash point. */
trait Catalog {
  def spark: SparkSession
  def warehouse: String

  def createNamespace(ns: String): Unit
  def listNamespaces(): Seq[String]
  /** drop an EMPTY namespace (callers enforce emptiness for DDL) */
  def dropNamespace(ns: String): Unit

  def createTable(ns: String, name: String, ddl: String,
      partitionBy: Seq[String] = Nil, properties: Map[String, String] = Map.empty,
      formatVersion: Int = 3): GraftTable
  def loadTable(ns: String, name: String): GraftTable
  def tableExists(ns: String, name: String): Boolean
  def listTables(ns: String): Seq[String]
  def renameTable(ns: String, from: String, to: String): Unit
  def dropTable(ns: String, name: String): Unit

  /** zero-copy shallow clone as a catalog operation: the normal create
    * path allocates AND registers the target location (pointer row, REST
    * entry, or warehouse dir — whatever this backend uses), then the
    * clone metadata publishes as that empty table's next version
    * ([[GraftTable.shallowClone]] accepts a snapshot-less target) */
  def cloneTable(fromNs: String, from: String, toNs: String,
      to: String): GraftTable = {
    val src = loadTable(fromNs, from)
    val target = createTable(toNs, to, "id bigint")
    src.shallowClone(target.location)
  }

  /** staging-table name for an RTAS swap targeting `tbl` — dot-prefixed
    * (hidden from listings) with a fixed-width uuid so the TARGET is
    * parseable back out of the name, which is what lets [[cleanStaging]]
    * recover a swap that crashed between drop(old) and rename(staging,
    * target) */
  final def stagingName(tbl: String): String =
    s".rtas_${java.util.UUID.randomUUID.toString.take(8)}_$tbl"

  protected final val StagingRe = "^\\.rtas_[0-9a-f]{8}_(.+)$".r

  /** a staging table is restorable only if its materialization completed:
    * at least one committed snapshot at `location` */
  protected final def stagingComplete(location: String): Boolean =
    Meta.currentVersion(location).isDefined &&
      scala.util.Try(Meta.readJson(location).snapshots.nonEmpty).getOrElse(false)

  /** the dot-prefixed staging tables of `ns` (hidden from
    * [[listTables]]) as (name, data location) */
  protected def stagingTables(ns: String): Seq[(String, String)]

  /** Reconcile in-flight staging tables (from CTAS REPLACE swaps) whose
    * last write — the data directory's mtime; a location that vanished
    * is trivially stale — is older than `olderThanMs`. Age guard for the
    * same reason removeOrphanFiles has one: a LIVE RTAS may still be
    * materializing into a young staging table.
    *
    * RESTORE-FIRST: a swap that crashed between dropTable(old) and
    * renameTable(staging, target) leaves the fully-materialized staging
    * table as the ONLY surviving copy of the data — deleting it would
    * destroy the table. So a stale staging whose parsed target is missing
    * and whose materialization completed (>= 1 snapshot) is renamed into
    * place, finishing the interrupted swap; everything else (target alive,
    * or crashed mid-materialize with zero snapshots) is removed. Another
    * writer (a second JVM on the same warehouse, another client of the
    * same service) can create or restore the target between the
    * tableExists probe and the rename; the rename then fails with "table
    * exists", and first writer wins: the staging leftover is dropped
    * instead of aborting the sweep.
    *
    * @return (restored, removed) counts */
  def cleanStaging(ns: String, olderThanMs: Long): (Int, Int) = {
    var restored = 0; var removed = 0
    stagingTables(ns).foreach { case (s, loc) =>
      val dir = Paths.get(loc)
      val mtime = if (Files.exists(dir)) Files.getLastModifiedTime(dir).toMillis
        else Long.MinValue
      if (mtime < olderThanMs) {
        val target = s match { case StagingRe(t) => Some(t); case _ => None }
        target.filter(t => stagingComplete(loc) && !tableExists(ns, t)) match {
          case Some(t) =>
            try { renameTable(ns, s, t); restored += 1 }
            catch { case _: IllegalStateException => dropTable(ns, s); removed += 1 }
          case None => dropTable(ns, s); removed += 1
        }
      }
    }
    (restored, removed)
  }
}

object Catalog {
  /** Backend factory for the SQL surface: `spark.graft.catalog` = `fs`
    * (default — filesystem warehouse) | `jdbc` (Derby pointer store at
    * `spark.graft.catalog.jdbc.url`, defaulting to an embedded database
    * inside the warehouse) | `rest` (HTTP pointer service at
    * `spark.graft.catalog.rest.url` — required, a remote service has no
    * sensible default). `spark.graft.warehouse` is required either
    * way — it is where table data lives; the backends differ only in
    * where the POINTERS live. */
  def apply(spark: SparkSession): Catalog = {
    val wh = spark.conf.getOption("spark.graft.warehouse").getOrElse(
      throw new IllegalStateException(
        "set spark.graft.warehouse to resolve graft.<ns>.<table> relations"))
    spark.conf.getOption("spark.graft.catalog").getOrElse("fs") match {
      case "fs" => new GraftCatalog(spark, wh)
      case "jdbc" =>
        val url = spark.conf.getOption("spark.graft.catalog.jdbc.url")
          .getOrElse(JdbcGraftCatalog.defaultUrl(wh))
        new JdbcGraftCatalog(spark, url, wh)
      case "rest" =>
        val url = spark.conf.getOption("spark.graft.catalog.rest.url")
          .getOrElse(throw new IllegalStateException(
            "set spark.graft.catalog.rest.url for the rest catalog backend"))
        new RestGraftCatalog(spark, url, wh)
      case other => throw new IllegalArgumentException(
        s"spark.graft.catalog must be fs|jdbc|rest, got '$other'")
    }
  }
}

/** Filesystem-warehouse catalog (the hadoop-catalog analog): a namespace is
  * a directory, a table is a graft-format directory inside it. All state is
  * on the filesystem — no service, no pointers; `tableExists` IS "does the
  * directory hold committed metadata". The trade-off vs the pointer
  * backends: rename is a filesystem move (O(1) on POSIX, O(data) on object
  * stores — [[JdbcGraftCatalog]] is the shape for the latter). */
class GraftCatalog(val spark: SparkSession, val warehouse: String)
    extends Catalog {

  private def nsPath(ns: String): Path = Paths.get(warehouse, ns)
  private def tblPath(ns: String, t: String): Path = nsPath(ns).resolve(t)

  def createNamespace(ns: String): Unit =
    Files.createDirectories(nsPath(ns))

  /** the entries of directory `p` (none when it is missing); the listing
    * is closed before returning, so it holds no file descriptor */
  private def children(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else {
      val ls = Files.list(p)
      try ls.iterator().asScala.toSeq finally ls.close()
    }

  def listNamespaces(): Seq[String] =
    children(Paths.get(warehouse)).filter(Files.isDirectory(_))
      .map(_.getFileName.toString).sorted

  def createTable(ns: String, name: String, ddl: String,
      partitionBy: Seq[String] = Nil, properties: Map[String, String] = Map.empty,
      formatVersion: Int = 3): GraftTable = {
    createNamespace(ns)
    GraftTable.create(spark, tblPath(ns, name).toString, ddl, partitionBy,
      properties, formatVersion)
  }

  def loadTable(ns: String, name: String): GraftTable = {
    require(tableExists(ns, name), s"no such table $ns.$name")
    GraftTable.load(spark, tblPath(ns, name).toString)
  }

  def tableExists(ns: String, name: String): Boolean =
    Meta.currentVersion(tblPath(ns, name).toString).isDefined

  def listTables(ns: String): Seq[String] =
    children(nsPath(ns))
      .filter(d => Meta.currentVersion(d.toString).isDefined)
      .map(_.getFileName.toString)
      // dot-prefixed dirs are in-flight staging tables (CTAS REPLACE swap)
      .filterNot(_.startsWith("."))
      .sorted

  def renameTable(ns: String, from: String, to: String): Unit = {
    require(tableExists(ns, from), s"no such table $ns.$from")
    def exists = new IllegalStateException(s"table $ns.$to exists")
    if (tableExists(ns, to)) throw exists
    // the move refuses an existing target: a racing creator surfaces as
    // the same "exists" failure as the probe above
    try Files.move(tblPath(ns, from), tblPath(ns, to))
    catch { case _: java.nio.file.FileAlreadyExistsException => throw exists }
  }

  def dropTable(ns: String, name: String): Unit =
    GraftTable.deleteTree(tblPath(ns, name))

  def dropNamespace(ns: String): Unit =
    Files.deleteIfExists(nsPath(ns))

  protected def stagingTables(ns: String): Seq[(String, String)] =
    children(nsPath(ns))
      .filter(d => d.getFileName.toString.startsWith(".") && Files.isDirectory(d))
      .map(d => d.getFileName.toString -> d.toString)
}
