package graft.table

import java.net.{InetSocketAddress, URLDecoder, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Paths
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

/** REST pointer catalog — the third catalog topology the reference's
  * matrix exposes (rest-catalog analog, alongside the filesystem
  * hadoop-analog and the Derby jdbc-analog). The catalog state lives
  * behind an HTTP API; table DATA stays graft-format directories under
  * the client's warehouse, and the service stores only `(ns, tbl) →
  * location` pointers. Same contract as [[JdbcGraftCatalog]]:
  *
  *  - rename is a server-side CAS on the pointer — pure metadata, O(1)
  *    at any table size, the only rename shape that survives object
  *    storage at 100 TB;
  *  - create is first-writer-wins on the `(ns, tbl)` key (HTTP 409 on
  *    conflict), so two racing drivers cannot both win a name;
  *  - the RTAS staging flow and [[Catalog.cleanStaging]] recovery work
  *    unchanged, because they are written against the [[Catalog]] trait.
  *
  * [[RestCatalogServer]] is the in-process reference implementation of
  * the service (JDK HttpServer, in-memory CAS pointer store) — it exists
  * so the topology is demonstrable and spec-covered in a zero-egress
  * sandbox; a production deployment points
  * `spark.graft.catalog.rest.url` at a long-lived service honoring the
  * same API, which is how N drivers share one catalog without sharing a
  * filesystem or an embedded database. */
class RestGraftCatalog(val spark: SparkSession, val baseUrl: String,
    val warehouse: String) extends Catalog {

  private val http = RestGraftCatalog.client

  private def enc(s: String): String = URLEncoder.encode(s, UTF_8)

  private def req(method: String, path: String, body: String = ""): (Int, String) = {
    val b = HttpRequest.newBuilder(java.net.URI.create(s"$baseUrl$path"))
    val r = (method match {
      case "GET" => b.GET()
      case "DELETE" => b.DELETE()
      case m => b.method(m, HttpRequest.BodyPublishers.ofString(body, UTF_8))
    }).header("Content-Type", "application/json").build()
    val resp = http.send(r, HttpResponse.BodyHandlers.ofString(UTF_8))
    (resp.statusCode(), resp.body())
  }

  private def field(json: String, key: String): Option[String] = {
    val m = Meta.mapper.readValue(json, classOf[java.util.Map[String, Object]])
    Option(m.get(key)).map(_.toString)
  }
  private def strList(json: String, key: String): Seq[String] = {
    val m = Meta.mapper.readValue(json, classOf[java.util.Map[String, Object]])
    // the shared mapper's Scala module materializes nested arrays as
    // scala List even inside a java.util.Map target — accept both
    m.get(key) match {
      case l: java.util.List[_] => l.asScala.toSeq.map(_.toString)
      case l: Seq[_] => l.map(_.toString)
      case other => throw new IllegalStateException(
        s"expected array at '$key', got $other")
    }
  }
  private def jstr(s: String): String = Meta.mapper.writeValueAsString(s)

  def createNamespace(ns: String): Unit = { // idempotent, like the peers
    val (code, body) = req("POST", "/v1/namespaces", s"""{"ns":${jstr(ns)}}""")
    // a failing/misbehaving pointer service must not be silently swallowed
    // here — every later table operation would 404 confusingly far from
    // the cause (the shipped server never errors on this route, but the
    // client is written for any service honoring the API)
    require(code < 400, s"createNamespace($ns) failed: HTTP $code $body")
  }

  def listNamespaces(): Seq[String] =
    strList(req("GET", "/v1/namespaces")._2, "namespaces").sorted

  def dropNamespace(ns: String): Unit = {
    val (code, body) = req("DELETE", s"/v1/namespaces/${enc(ns)}")
    require(code != 409, s"namespace $ns is not empty: $body")
  }

  private def location(ns: String, name: String): Option[String] = {
    val (code, body) = req("GET", s"/v1/namespaces/${enc(ns)}/tables/${enc(name)}")
    if (code == 200) field(body, "location") else None
  }

  def createTable(ns: String, name: String, ddl: String,
      partitionBy: Seq[String] = Nil, properties: Map[String, String] = Map.empty,
      formatVersion: Int = 3): GraftTable = {
    createNamespace(ns)
    // pointer indirection, same as the jdbc backend: data dir carries a
    // uuid, never the table name — renames must stay metadata-only
    val loc = Paths.get(warehouse, ns,
      java.util.UUID.randomUUID.toString.take(8) + "_" +
        name.replaceAll("[^A-Za-z0-9._-]", "_")).toString
    val (code, _) = req("POST", s"/v1/namespaces/${enc(ns)}/tables",
      s"""{"tbl":${jstr(name)},"location":${jstr(loc)}}""")
    if (code == 409) throw new IllegalStateException(s"table $ns.$name exists")
    try GraftTable.create(spark, loc, ddl, partitionBy, properties, formatVersion)
    catch { case e: Throwable => // roll the pointer back: no dangling row
      req("DELETE", s"/v1/namespaces/${enc(ns)}/tables/${enc(name)}")
      throw e
    }
  }

  def loadTable(ns: String, name: String): GraftTable =
    GraftTable.load(spark, location(ns, name).getOrElse(
      throw new IllegalArgumentException(s"no such table $ns.$name")))

  def tableExists(ns: String, name: String): Boolean =
    location(ns, name).isDefined

  /** all pointer names including dot-prefixed staging rows */
  private def listAll(ns: String): Seq[String] =
    strList(req("GET", s"/v1/namespaces/${enc(ns)}/tables")._2, "tables")

  def listTables(ns: String): Seq[String] =
    // dot-prefixed rows are in-flight staging tables (CTAS REPLACE swap)
    listAll(ns).filterNot(_.startsWith(".")).sorted

  def renameTable(ns: String, from: String, to: String): Unit = {
    val (code, _) = req("POST", s"/v1/namespaces/${enc(ns)}/rename",
      s"""{"from":${jstr(from)},"to":${jstr(to)}}""")
    if (code == 404) throw new IllegalArgumentException(s"no such table $ns.$from")
    if (code == 409) throw new IllegalStateException(s"table $ns.$to exists")
  }

  def dropTable(ns: String, name: String): Unit = {
    val (code, body) = req("DELETE", s"/v1/namespaces/${enc(ns)}/tables/${enc(name)}")
    // delete the data tree the returned pointer names; a 404 is a no-op
    if (code == 200) field(body, "location")
      .foreach(l => GraftTable.deleteTree(Paths.get(l)))
  }

  protected def stagingTables(ns: String): Seq[(String, String)] =
    listAll(ns).filter(_.startsWith(".")).flatMap(s => location(ns, s).map(s -> _))
}

object RestGraftCatalog {
  private[table] lazy val client: HttpClient = HttpClient.newHttpClient()
}

/** In-process pointer service for [[RestGraftCatalog]]: the JDK HttpServer
  * hosting an in-memory CAS pointer store. Single global mutex on writes —
  * the catalog plane moves a few hundred bytes per commit, so contention
  * is never the bottleneck; correctness (no lost updates, first writer
  * wins) is. */
class RestCatalogServer private (server: HttpServer) {
  def port: Int = server.getAddress.getPort
  def url: String = s"http://127.0.0.1:$port"
  def stop(): Unit = server.stop(0)
}

object RestCatalogServer {
  def start(): RestCatalogServer = {
    val namespaces = ConcurrentHashMap.newKeySet[String]()
    val tables = new ConcurrentHashMap[(String, String), String]()
    val lock = new Object

    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)

    def send(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      // 204 must not carry a body; sendResponseHeaders(-1) means "none"
      if (code == 204) ex.sendResponseHeaders(204, -1)
      else { ex.sendResponseHeaders(code, bytes.length); ex.getResponseBody.write(bytes) }
      ex.close()
    }
    def jstr(s: String): String = Meta.mapper.writeValueAsString(s)
    def parse(ex: HttpExchange): java.util.Map[String, Object] =
      Meta.mapper.readValue(
        new String(ex.getRequestBody.readAllBytes(), UTF_8),
        classOf[java.util.Map[String, Object]])

    server.createContext("/v1/namespaces", { ex =>
      try {
        val segs = ex.getRequestURI.getRawPath.stripPrefix("/v1/namespaces")
          .split("/").filter(_.nonEmpty).map(URLDecoder.decode(_, UTF_8)).toSeq
        (ex.getRequestMethod, segs) match {
          case ("GET", Seq()) =>
            send(ex, 200, namespaces.asScala.toSeq.sorted
              .map(jstr).mkString("{\"namespaces\":[", ",", "]}"))
          case ("POST", Seq()) =>
            namespaces.add(parse(ex).get("ns").toString)
            send(ex, 200, "{}")
          case ("DELETE", Seq(ns)) => lock.synchronized {
            if (tables.keySet.asScala.exists(_._1 == ns))
              send(ex, 409, s"""{"error":"namespace not empty"}""")
            else { namespaces.remove(ns); send(ex, 204, "") }
          }
          case ("GET", Seq(ns, "tables")) =>
            send(ex, 200, tables.asScala.keys.filter(_._1 == ns)
              .map(_._2).toSeq.sorted
              .map(jstr).mkString("{\"tables\":[", ",", "]}"))
          case ("POST", Seq(ns, "tables")) => lock.synchronized {
            val b = parse(ex)
            val key = (ns, b.get("tbl").toString)
            // a pointer must not appear under a namespace that was never
            // created — the client would otherwise mask a lost/failed
            // createNamespace until listNamespaces disagrees much later
            if (!namespaces.contains(ns))
              send(ex, 404, s"""{"error":"no such namespace"}""")
            else if (tables.putIfAbsent(key, b.get("location").toString) != null)
              send(ex, 409, s"""{"error":"table exists"}""")
            else send(ex, 201, "{}")
          }
          case ("GET", Seq(ns, "tables", tbl)) =>
            tables.get((ns, tbl)) match {
              case null => send(ex, 404, s"""{"error":"no such table"}""")
              case loc => send(ex, 200, s"""{"location":${jstr(loc)}}""")
            }
          case ("DELETE", Seq(ns, "tables", tbl)) => lock.synchronized {
            tables.remove((ns, tbl)) match {
              case null => send(ex, 404, s"""{"error":"no such table"}""")
              case loc => send(ex, 200, s"""{"location":${jstr(loc)}}""")
            }
          }
          case ("POST", Seq(ns, "rename")) => lock.synchronized {
            val b = parse(ex)
            val (from, to) = ((ns, b.get("from").toString), (ns, b.get("to").toString))
            if (!tables.containsKey(from)) send(ex, 404, s"""{"error":"no such table"}""")
            else if (tables.containsKey(to)) send(ex, 409, s"""{"error":"table exists"}""")
            else { tables.put(to, tables.remove(from)); send(ex, 204, "") }
          }
          case _ => send(ex, 404, s"""{"error":"no such route"}""")
        }
      } catch { case e: Throwable =>
        send(ex, 500, s"""{"error":${jstr(String.valueOf(e.getMessage))}}""")
      }
    })
    server.start()
    new RestCatalogServer(server)
  }
}
