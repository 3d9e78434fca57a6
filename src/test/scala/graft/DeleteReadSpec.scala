package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

import graft.table._

/** Delete files are read in one place (DeleteReader): the driver decoder
  * or one Spark row reader, under one legacy-target rule and one
  * latest-vector rule. This spec pins what that buys the writers:
  *  - a commit that removes data files also removes every position and
  *    DV entry whose targets all lie among them (dangling deletes), and
  *    keeps an entry with a surviving target;
  *  - a DV commit carries no vector of a file that is no longer live;
  *  - `rewriteDeleteFiles` leaves the join to Spark (no broadcast hint).
  * Every read is checked against a model on both delete paths: the
  * driver filter and the anti-joins. */
class DeleteReadSpec extends SparkSpec {

  private def tmp(): String =
    Scratch.dir("graft-delread").resolve("t").toString

  /** Model rows: k -> (p, v). */
  private type Model = Map[Long, (String, String)]

  /** Partition `a` holds two small files (k 1-8, k 9-10); partition `b`
    * one file far larger than [[SmallBytes]] (k 100-2099). */
  private def table(): (GraftTable, Model) = {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "k bigint, p string, v string",
      partitionBy = Seq("p"))
    val a1 = (1L to 8L).map(k => (k, "a", s"v$k"))
    val a2 = (9L to 10L).map(k => (k, "a", s"v$k"))
    // incompressible values keep b's file large
    val b = (100L until 2100L).map(k =>
      (k, "b", java.util.UUID.nameUUIDFromBytes(BigInt(k).toByteArray).toString))
    Seq(a1, a2, b).foreach(rows => t.append(rows.toDF("k", "p", "v")))
    (t, (a1 ++ a2 ++ b).map { case (k, p, v) => k -> (p, v) }.toMap)
  }
  private val SmallBytes = 20000L

  private def dataFile(t: GraftTable, k: Long): String =
    t.scan(filter = Some(s"k = $k"), withPos = true).select("_gf").head().getString(0)

  /** The delete entry `op` adds (its path as the manifest stores it). */
  private def added(t: GraftTable)(op: => Unit): String = {
    val before = t.liveFiles().map(_.path).toSet
    op
    val fresh = t.liveFiles().filter(_.fileType != "data").map(_.path).filterNot(before)
    assert(fresh.size == 1, s"expected one new delete entry, got $fresh")
    fresh.head
  }

  private def rows(df: DataFrame): Seq[(Long, String, String)] =
    df.select("k", "p", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sortBy(_._1)

  private def sorted(m: Model): Seq[(Long, String, String)] =
    m.toSeq.map { case (k, (p, v)) => (k, p, v) }.sortBy(_._1)

  /** Reads equal the model through the filter and through the joins. */
  private def assertReads(t: GraftTable, m: Model, what: String): Unit = {
    assert(rows(t.scan()) == sorted(m), s"$what: filter path")
    assert(withJoinDeletes(rows(t.scan())) == sorted(m), s"$what: join path")
  }

  private val ops: Seq[(String, (GraftTable, Model) => Model)] = Seq(
    "CoW delete" -> { (t, m) => t.delete("k = 4"); m - 4L },
    "CoW update" -> { (t, m) =>
      t.update("k = 4", Map("v" -> "'u'")); m + (4L -> ("a", "u")) },
    "merge" -> { (t, m) =>
      import spark.implicits._
      t.merge(Seq((4L, "m")).toDF("k", "v"), on = "t.k = s.k", matchedSet = Map("v" -> "s.v"))
      m + (4L -> ("a", "m")) },
    "overwritePartitions" -> { (t, m) =>
      import spark.implicits._
      t.overwritePartitions(Seq((5000L, "a", "o")).toDF("k", "p", "v"))
      m.filter(_._2._1 != "a") + (5000L -> ("a", "o")) },
    "compactSmallFiles" -> { (t, m) =>
      t.compactSmallFiles(smallerThanBytes = SmallBytes); m })

  for ((name, op) <- ops; dvSurvives <- Seq(false, true))
    test(s"$name drops deletes naming only removed files " +
        s"(DV ${if (dvSurvives) "with" else "without"} a surviving target)") {
      val (t, m0) = table()
      val a1 = dataFile(t, 1L)
      val b = dataFile(t, 100L)
      val sizes = t.liveFiles().filter(_.fileType == "data").map(_.sizeBytes)
      assert(sizes.count(_ < SmallBytes) == 2, s"two small files in a: $sizes")
      // the op removes a1 (overwritePartitions and compactSmallFiles a2 too)
      val onlyA1 = added(t)(t.delete("k = 1", WriteMode.MergeOnRead))
      val a1AndB = added(t)(t.delete("k = 2 OR k = 101", WriteMode.MergeOnRead))
      val dvKeys = if (dvSurvives) Seq(3L, 102L) else Seq(3L)
      val dv = added(t)(t.delete(dvKeys.map(k => s"k = $k").mkString(" OR "),
        WriteMode.DeletionVector))
      val m1 = m0 -- Seq(1L, 2L, 101L) -- dvKeys
      assertReads(t, m1, s"$name, before")
      val m2 = op(t, m1)
      val live = t.liveFiles()
      val paths = live.map(_.path).toSet
      assert(!live.exists(e => s"${t.location}/${e.path}" == a1), s"$name must remove a1")
      assert(live.exists(e => s"${t.location}/${e.path}" == b), s"$name must keep b")
      assert(!paths(onlyA1), s"$name: a posdel naming only removed files must leave")
      assert(paths(a1AndB), s"$name: a posdel with a surviving target must stay")
      assert(paths(dv) == dvSurvives, s"$name: the DV entry (survivor: $dvSurvives)")
      assertReads(t, m2, s"$name, after")
    }

  test("a DV commit carries no vector of a file rewritten since") {
    val (t, m0) = table()
    val b = dataFile(t, 100L)
    t.delete("k = 3 OR k = 102", WriteMode.DeletionVector)
    t.update("k = 4", Map("v" -> "'u'")) // rewrites a1; the DV entry keeps b
    assert(t.liveFiles().count(_.fileType == "dv") == 1)
    val dv = added(t)(t.delete("k = 103", WriteMode.DeletionVector))
    val named = spark.read.parquet(s"${t.location}/$dv").select("file_path")
      .collect().map(_.getString(0)).toSet
    assert(named == Set(b), s"the new vector file must name only b, got $named")
    assertReads(t, m0 -- Seq(3L, 102L, 103L) + (4L -> ("a", "u")), "after")
  }

  test("rewriteDeleteFiles under a -1 broadcast bound plans no broadcast; rows agree") {
    val (t, m0) = table()
    t.delete("k = 1", WriteMode.MergeOnRead)
    t.delete("k = 2 OR k = 101", WriteMode.MergeOnRead)
    t.delete("k = 103", WriteMode.MergeOnRead)
    val m = m0 -- Seq(1L, 2L, 101L, 103L)
    assertReads(t, m, "before")
    val plans = withBroadcastBound(-1)(executedDuring(t.rewriteDeleteFiles()))
    assert(plans.nonEmpty)
    val broadcasts = plans.flatMap(_.collect { case x: BroadcastExchangeExec => x })
    assert(broadcasts.isEmpty, s"no rewrite query may broadcast:\n${plans.mkString("\n")}")
    val pds = t.liveFiles().filter(_.fileType == "posdel")
    assert(pds.size == 1 && pds.head.rowCount == 4, s"one merged file of 4 tombstones: $pds")
    assertReads(t, m, "after")
  }

  test("a rewrite that keeps no tombstone leaves no directory; delete entries record their size") {
    val (t, m0) = table()
    t.delete("k = 1", WriteMode.MergeOnRead)
    t.delete("k = 9", WriteMode.MergeOnRead)
    t.delete("k = 102", WriteMode.DeletionVector)
    val m = m0 -- Seq(1L, 9L, 102L)
    // above the decode bound the dangling rule keeps both position
    // entries when the compaction removes every file they name
    withBroadcastBound(-1)(t.compactSmallFiles(smallerThanBytes = SmallBytes))
    assert(t.liveFiles().count(_.fileType == "posdel") == 2)
    withBroadcastBound(-1)(t.rewriteDeleteFiles())
    assert(!t.liveFiles().exists(_.fileType == "posdel"), "no tombstone survives the rewrite")
    val entries = t.meta.snapshots.flatMap(s => Meta.readEntries(t.location, s))
    val referenced = entries.map(e => java.nio.file.Paths.get(t.location, e.path)).toSet
    val listing = Files.list(java.nio.file.Paths.get(t.location, "deletes"))
    val dirs = try listing.iterator().asScala.toList finally listing.close()
    assert(dirs.nonEmpty && dirs.forall(referenced), s"unreferenced: ${dirs.filterNot(referenced)}")
    val overlays = entries.filter(e => e.fileType == "posdel" || e.fileType == "dv")
    assert(overlays.nonEmpty && overlays.forall(_.sizeBytes > 0),
      s"sizes: ${overlays.map(e => e.path -> e.sizeBytes)}")
    assertReads(t, m, "after")
  }
}
