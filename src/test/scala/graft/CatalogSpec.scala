package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.table.{Catalog, GraftCatalog, JdbcGraftCatalog, RestCatalogServer, RestGraftCatalog}

/** The pluggability contract: the filesystem catalog, the Derby pointer
  * catalog, and the HTTP pointer catalog must be indistinguishable
  * through [[graft.table.Catalog]] — same lifecycle, same listings, same
  * CAS refusals, same staging recovery — while differing exactly where
  * they should (a pointer rename never moves data). */
class CatalogSpec extends SparkSpec {
  import spark.implicits._

  // one in-process pointer service for the whole suite (JVM-lifetime;
  // each backend instance below still gets its own warehouse + namespaces)
  private lazy val restServer = RestCatalogServer.start()

  private def backends: Seq[(String, String => Catalog)] = Seq(
    "fs" -> (wh => new GraftCatalog(spark, wh)),
    "jdbc" -> (wh => new JdbcGraftCatalog(spark, JdbcGraftCatalog.defaultUrl(wh), wh)),
    "rest" -> (wh => new RestGraftCatalog(spark, restServer.url, wh)))

  test("both backends run the same lifecycle to the same listing") {
    for ((label, mk) <- backends) {
      val wh = Scratch.dir(s"graft-cat-$label").toString
      val cat = mk(wh)
      cat.createNamespace("db1")
      cat.createNamespace("db2")
      val t1 = cat.createTable("db1", "t1", "k bigint, v string")
      t1.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
      cat.createTable("db1", "tmp", "k bigint")
      cat.createTable("db2", "t2", "k bigint")
      cat.renameTable("db2", "t2", "t2b")
      cat.dropTable("db1", "tmp")
      val listing =
        for (ns <- cat.listNamespaces(); tb <- cat.listTables(ns)) yield (ns, tb)
      assert(listing == Seq(("db1", "t1"), ("db2", "t2b")), label)
      assert(cat.loadTable("db1", "t1").scan().count() == 2, label)
      // CAS refusals: a name can only be won once
      intercept[Exception] { cat.createTable("db1", "t1", "k bigint") }
      cat.createTable("db2", "x", "k bigint")
      intercept[Exception] { cat.renameTable("db2", "x", "t2b") }
      // zero-copy clone through EVERY backend's pointer machinery: the
      // create path allocates + registers, the clone publishes as the
      // empty table's next version, and the pair diverges freely
      val c1 = cat.cloneTable("db1", "t1", "db2", "t1c")
      assert(c1.scan().count() == 2, label)
      c1.append(Seq((9L, "z")).toDF("k", "v"))
      assert(cat.loadTable("db2", "t1c").scan().count() == 3, label)
      assert(cat.loadTable("db1", "t1").scan().count() == 2,
        s"$label: source saw the clone's divergent append")
      intercept[Exception] { cat.cloneTable("db1", "t1", "db2", "t1c") }
      cat.dropTable("db2", "t1c")
      // non-empty namespace refuses to drop (jdbc enforces; fs no-ops on
      // the non-empty dir) — either way db1 survives with its table
      try cat.dropNamespace("db1") catch { case _: Exception => () }
      assert(cat.listTables("db1") == Seq("t1"), label)
    }
  }

  test("jdbc rename is a pointer update: the data directory never moves") {
    val wh = Scratch.dir("graft-cat-ptr").toString
    val cat = new JdbcGraftCatalog(spark, JdbcGraftCatalog.defaultUrl(wh), wh)
    val t = cat.createTable("db", "a", "k bigint")
    t.append(Seq(1L, 2L, 3L).toDF("k"))
    val locBefore = t.location
    cat.renameTable("db", "a", "b")
    val re = cat.loadTable("db", "b")
    // O(1) at any size: on an object store a directory move is a copy of
    // every object, so this is the rename that survives 100 TB
    assert(re.location == locBefore, "rename moved data")
    assert(re.scan().count() == 3)
    assert(!cat.tableExists("db", "a"))
  }

  test("jdbc cleanStaging keeps restore-first parity with the fs backend") {
    val wh = Scratch.dir("graft-cat-stg").toString
    val cat = new JdbcGraftCatalog(spark, JdbcGraftCatalog.defaultUrl(wh), wh)
    // crashed swap window: staging fully materialized, target dropped,
    // rename never ran — restore, don't delete
    val stg = cat.stagingName("orders")
    cat.createTable("db", stg, "k bigint").append(Seq(7L, 8L).toDF("k"))
    assert(cat.listTables("db").isEmpty, "staging hidden from listings")
    assert(cat.cleanStaging("db", System.currentTimeMillis() + 1000) == ((1, 0)))
    assert(cat.listTables("db") == Seq("orders"))
    assert(cat.loadTable("db", "orders").scan().count() == 2)
    // crash mid-materialize (zero snapshots): not restorable, removed
    cat.createTable("db", cat.stagingName("empty"), "k bigint")
    assert(cat.cleanStaging("db", System.currentTimeMillis() + 1000) == ((0, 1)))
    assert(cat.listTables("db") == Seq("orders"))
  }

  test("SQL DDL/DML honor the spark.graft.catalog switch mid-session") {
    val whJ = Scratch.dir("graft-sql-jdbc").toString
    val whF = Scratch.dir("graft-sql-fs").toString
    // getOrCreate returns the extension-less shared session unless the
    // active/default slots are cleared first (same dance as withSqlSession)
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    val s2 = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.functions.GraftExtensions())
      .getOrCreate()
    try {
      s2.conf.set("spark.graft.catalog", "jdbc")
      s2.conf.set("spark.graft.warehouse", whJ)
      s2.sql("CREATE TABLE graft.db.j (k BIGINT, v STRING)")
      s2.sql("INSERT INTO graft.db.j VALUES (1, 'x'), (2, 'y')")
      assert(s2.sql("SELECT * FROM graft.db.j").count() == 2)
      // the table lives behind a uuid pointer, not a name-derived dir
      assert(!Files.exists(Paths.get(whJ, "db", "j")),
        "jdbc backend used a name-derived path")
      // flip to fs mid-suite: separate world, same SQL surface
      s2.conf.set("spark.graft.catalog", "fs")
      s2.conf.set("spark.graft.warehouse", whF)
      s2.sql("CREATE TABLE graft.db.f AS SELECT CAST(1 AS BIGINT) AS k")
      assert(s2.sql("SELECT * FROM graft.db.f").count() == 1)
      assert(Files.exists(Paths.get(whF, "db", "f")), "fs backend path")
      // and the jdbc world is intact when switched back
      s2.conf.set("spark.graft.catalog", "jdbc")
      s2.conf.set("spark.graft.warehouse", whJ)
      assert(s2.sql("SELECT v FROM graft.db.j WHERE k = 2").collect()
        .map(_.getString(0)).toSeq == Seq("y"))
      // RTAS rides the same seam: staging + pointer rename, no data move
      s2.sql("CREATE OR REPLACE TABLE graft.db.j AS " +
        "SELECT k, upper(v) AS v FROM graft.db.j")
      assert(s2.sql("SELECT v FROM graft.db.j ORDER BY k").collect()
        .map(_.getString(0)).toSeq == Seq("X", "Y"))
    } finally {
      s2.conf.unset("spark.graft.catalog")
      s2.conf.unset("spark.graft.warehouse")
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("q_catalog_jdbc returns the oracle rows (driver-gate smoke)") {
    val rows = graft.ops.GraftOps.catalogOpsJdbc(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq(("db1", "t1", 2L), ("db2", "t2b", 2L)))
  }

  test("rest rename is a server-side pointer CAS: data never moves") {
    val wh = Scratch.dir("graft-cat-rest").toString
    val cat = new RestGraftCatalog(spark, restServer.url, wh)
    val t = cat.createTable("rdb", "a", "k bigint")
    t.append(Seq(1L, 2L, 3L).toDF("k"))
    val locBefore = t.location
    cat.renameTable("rdb", "a", "b")
    val re = cat.loadTable("rdb", "b")
    assert(re.location == locBefore, "rename moved data")
    assert(re.scan().count() == 3)
    assert(!cat.tableExists("rdb", "a"))
    // CAS through the service, not the client: a second client sharing
    // the URL sees the same state and loses the same races
    val cat2 = new RestGraftCatalog(spark, restServer.url, wh)
    intercept[Exception] { cat2.createTable("rdb", "b", "k bigint") }
    assert(cat2.loadTable("rdb", "b").scan().count() == 3)
  }

  test("rest cleanStaging keeps restore-first parity with the peers") {
    val wh = Scratch.dir("graft-cat-rstg").toString
    val cat = new RestGraftCatalog(spark, restServer.url, wh)
    val stg = cat.stagingName("orders")
    cat.createTable("rstg", stg, "k bigint").append(Seq(7L, 8L).toDF("k"))
    assert(cat.listTables("rstg").isEmpty, "staging hidden from listings")
    assert(cat.cleanStaging("rstg", System.currentTimeMillis() + 1000) == ((1, 0)))
    assert(cat.listTables("rstg") == Seq("orders"))
    assert(cat.loadTable("rstg", "orders").scan().count() == 2)
    cat.createTable("rstg", cat.stagingName("empty"), "k bigint")
    assert(cat.cleanStaging("rstg", System.currentTimeMillis() + 1000) == ((0, 1)))
    assert(cat.listTables("rstg") == Seq("orders"))
  }

  /** run each thunk on its own thread, released together by a barrier */
  private def race[A](fns: Seq[() => A]): Seq[Either[Throwable, A]] = {
    val barrier = new java.util.concurrent.CyclicBarrier(fns.size)
    val out = new Array[Either[Throwable, A]](fns.size)
    val ts = fns.zipWithIndex.map { case (f, i) =>
      new Thread(() => {
        barrier.await()
        out(i) = try Right(f()) catch { case e: Throwable => Left(e) }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    out.toSeq
  }

  test("rest multi-driver races: exactly one winner per CAS, clean loser error") {
    // the topology's whole point is N drivers sharing one pointer
    // service with no shared filesystem/JVM — so race two CLIENTS (each
    // its own HTTP session) through the same server and assert the CAS
    // contract holds under real concurrency, not just sequentially
    val wh = Scratch.dir("graft-cat-race").toString
    val cats = Seq.fill(2)(new RestGraftCatalog(spark, restServer.url, wh))
    cats.head.createNamespace("race")
    // create race, several rounds (one round could always luck into
    // serialized arrivals; three make a broken CAS overwhelmingly loud)
    for (r <- 0 until 3) {
      val res = race(cats.map(c => () => c.createTable("race", s"t$r", "k bigint")))
      assert(res.count(_.isRight) == 1,
        s"round $r: expected exactly one create winner, got $res")
      val loser = res.collectFirst { case Left(e) => e }.get
      assert(loser.isInstanceOf[IllegalStateException] &&
        loser.getMessage.contains("exists"), s"round $r loser error: $loser")
      // the winner's table is intact and visible to BOTH clients
      assert(cats.forall(_.loadTable("race", s"t$r").scan().count() == 0))
    }
    assert(cats.head.listTables("race") == Seq("t0", "t1", "t2"))
    // rename race: two sources contend for ONE target name
    cats.head.createTable("race", "src_a", "k bigint")
    cats.head.createTable("race", "src_b", "k bigint")
    val rn = race(Seq(
      () => cats(0).renameTable("race", "src_a", "tgt"),
      () => cats(1).renameTable("race", "src_b", "tgt")))
    assert(rn.count(_.isRight) == 1, s"expected one rename winner, got $rn")
    val rloser = rn.collectFirst { case Left(e) => e }.get
    assert(rloser.isInstanceOf[IllegalStateException] &&
      rloser.getMessage.contains("exists"), s"rename loser error: $rloser")
    // exactly one source consumed, the loser's source still addressable
    val after = cats.head.listTables("race")
    assert(after.contains("tgt") &&
      after.count(t => t == "src_a" || t == "src_b") == 1, s"listing: $after")
  }

  test("rest cleanStaging degrades to drop when the rename CAS loses a race") {
    // the check-then-act window (tableExists probe → rename) cannot be
    // hit deterministically from outside, so pin the degrade path by
    // making the probe LIE (as a concurrent restore/create would): the
    // sweep must fall back to dropping the staging row — first writer
    // wins — never abort the sweep
    val wh = Scratch.dir("graft-cat-rdeg").toString
    val cat = new RestGraftCatalog(spark, restServer.url, wh)
    val stg = cat.stagingName("hot")
    cat.createTable("rdeg", stg, "k bigint").append(Seq(1L, 2L).toDF("k"))
    cat.createTable("rdeg", "hot", "k bigint").append(Seq(9L).toDF("k"))
    val racy = new RestGraftCatalog(spark, restServer.url, wh) {
      override def tableExists(ns: String, name: String): Boolean = false
    }
    assert(racy.cleanStaging("rdeg", System.currentTimeMillis() + 1000) == ((0, 1)))
    // the concurrent winner's table survives untouched; staging is gone
    assert(cat.listTables("rdeg") == Seq("hot"))
    assert(cat.loadTable("rdeg", "hot").scan().count() == 1)
  }

  test("q_catalog_rest returns the oracle rows (driver-gate smoke)") {
    val rows = graft.ops.GraftOps.catalogOpsRest(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq(("db1", "t1", 2L), ("db2", "t2b", 2L)))
  }
}
