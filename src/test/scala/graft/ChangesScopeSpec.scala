package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.table._

/** Round-16 delta-scoped changes(): a row-changing CDC window used to scan
  * BOTH snapshots whole and full-outer-join them — table cost for a
  * delta-sized window, paid per micro-batch by stream CDC. The scoped path
  * bounds each side to the files that can carry a change (removed /
  * added / overlay-delta survivors). This spec pins:
  *  1. the COST property — a one-file update window plans O(touched)
  *     files on both sides (via the lastChangesScope hook);
  *  2. the EQUIVALENCE property — scoped ≡ full state diff on fuzzed op
  *     sequences across every write shape the table supports;
  *  3. in-window compaction contributes nothing (lineage is preserved
  *     across rewrites, so rewritten rows struct-match and squash);
  *  4. equality-delete windows — value-scoped targets carry no file list,
  *     so the scope is bounded by manifest stats against the deleted keys
  *     (and degrades to all-survivors on a null key, never to the diff). */
class ChangesScopeSpec extends SparkSpec {

  private def tmp(): String =
    Scratch.dir("graft-chscope").resolve("t").toString

  private def mk(loc: String, partitionBy: Seq[String] = Nil): GraftTable =
    GraftTable.create(spark, loc, "id bigint, k bigint, s string", partitionBy)

  private def df(rows: Seq[(Long, Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "k", "s")
  }

  private def canon(d: DataFrame): Vector[String] = {
    val cols = d.columns.sorted.toSeq
    d.collect().toIndexedSeq
      .map(r => cols.map(c => String.valueOf(r.getAs[Any](c))).mkString("|"))
      .sorted.toVector
  }

  test("one-file CoW update window plans O(touched) files at both sides") {
    val loc = tmp()
    val t = mk(loc, partitionBy = Seq("k")) // identity partition: file per k
    val s0 = t.append(df((0L until 40L).map(i => (i, i % 8, s"v$i"))))
    val filesAt0 = Meta.readEntries(loc, s0).count(_.fileType == "data")
    assert(filesAt0 >= 8, s"need a multi-file table, got $filesAt0 files")
    t.update("id = 5", Map("s" -> "'updated'")) // one row -> one partition file
    val ch = t.changes(s0.snapshotId).collect()
    val scope = t.lastChangesScope
    assert(scope.isDefined, "row-changing window must take the scoped path")
    val (before, after) = scope.get
    assert(before.size == 1, s"before-side must be the ONE rewritten file, got $before")
    assert(after.size <= 2 && after.nonEmpty,
      s"after-side must be the replacement file(s), got $after")
    val byType = ch.groupBy(_.getAs[String]("_change_type"))
      .view.mapValues(_.map(_.getAs[Long]("id")).toSet).toMap
    assert(byType == Map("update_before" -> Set(5L), "update_after" -> Set(5L)),
      s"got $byType")
  }

  test("MoR and DV delete windows scope to the targeted survivor file") {
    for (mode <- Seq(WriteMode.MergeOnRead, WriteMode.DeletionVector)) {
      val loc = tmp()
      val t = mk(loc, partitionBy = Seq("k"))
      val s0 = t.append(df((0L until 40L).map(i => (i, i % 8, s"v$i"))))
      t.delete("id = 7", mode)
      val ch = t.changes(s0.snapshotId).collect()
      val (before, after) = t.lastChangesScope.getOrElse(
        fail(s"$mode delete window must take the scoped path"))
      assert(before.size == 1 && after.size == 1 && before == after,
        s"$mode: both sides must be the one targeted survivor, got $before / $after")
      assert(ch.map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"))).toSeq ==
        Seq(("delete", 7L)), s"$mode: got ${ch.toSeq}")
    }
  }

  test("building a scoped changes() over posdel, DV and eqdel runs no Spark job") {
    import spark.implicits._
    val loc = tmp()
    val t = mk(loc, partitionBy = Seq("k"))
    val s0 = t.append(df((0L until 40L).map(i => (i, i % 8, s"v$i"))))
    t.delete("id = 7", WriteMode.MergeOnRead)
    t.delete("id = 9", WriteMode.DeletionVector)
    t.deleteByKeys(Seq(11L).toDF("id"))
    val (ch, jobs) = jobsDuring(t.changes(s0.snapshotId))
    assert(jobs == 0, "delete targets and keys must come from the driver decoder")
    assert(t.lastChangesScope.isDefined, "a delete window must take the scoped path")
    assert(canon(ch) == canon(t.changesStateDiff(s0.snapshotId)))
    assert(ch.collect().map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id")))
      .toSeq.sortBy(_._2) == Seq(("delete", 7L), ("delete", 9L), ("delete", 11L)))
  }

  test("a legacy URI-encoded position-delete target scopes to its survivor file") {
    // delete files written before round 15 stored the URI-encoded file
    // path; the scope must map it back to the raw survivor path by the
    // same rule the scan applies, or the delete would be missed
    import spark.implicits._
    val loc = tmp()
    val t = mk(loc, partitionBy = Seq("s"))
    val s0 = t.append(df(Seq((1L, 1L, "a b%c"), (2L, 2L, "a b%c"), (3L, 3L, "plain"))))
    t.delete("id = 1", WriteMode.MergeOnRead)
    val pd = Meta.readEntries(loc, t.meta.head("main").get).find(_.fileType == "posdel").get
    val dir = s"$loc/${pd.path}"
    val rows = spark.read.parquet(dir).as[(String, Long)].collect().toSeq
    val raw = rows.map(_._1).distinct
    assert(raw.size == 1 && raw.head.contains("a b%25c"), s"got $raw")
    val encoded = new java.net.URI("file", null, raw.head, null).getRawPath
    assert(encoded != raw.head)
    // rewrite the delete file as an older writer stored it
    rows.map { case (_, pos) => (encoded, pos) }.toDF("file_path", "pos")
      .write.mode("overwrite").parquet(dir)
    assert(t.scan().orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(2L, 3L))
    val ch = t.changes(s0.snapshotId)
    val (before, after) = t.lastChangesScope.getOrElse(
      fail("a posdel window must take the scoped path"))
    assert(before == Set(raw.head) && after == Set(raw.head),
      s"both sides must be the targeted survivor, got $before / $after")
    assert(canon(ch) == canon(t.changesStateDiff(s0.snapshotId)))
    assert(ch.collect().map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id")))
      .toSeq == Seq(("delete", 1L)))
  }

  test("in-window compaction contributes no change rows (lineage squashes rewrites)") {
    val loc = tmp()
    val t = mk(loc)
    val s0 = t.append(df(Seq((1L, 1L, "a"), (2L, 2L, "b"))))
    // pure maintenance window: compaction only -> zero changes
    t.append(df(Seq((3L, 3L, "c"))))
    val s1 = t.meta.head("main").get
    t.compact(targetMB = 1)
    assert(t.changes(s1.snapshotId).collect().isEmpty,
      "a compaction-only window must emit zero changes")
    // mixed window: delete + compaction -> exactly the delete, nothing else
    t.delete("id = 2")
    t.compact(targetMB = 1)
    val ch = t.changes(s0.snapshotId).collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"))).sorted.toSeq
    assert(ch == Seq(("delete", 2L), ("insert", 3L)), s"got $ch")
    assert(canon(t.changes(s0.snapshotId)) == canon(t.changesStateDiff(s0.snapshotId)),
      "scoped must equal the state diff across a compaction")
  }

  test("equality-delete window scopes to stat-admitting survivors") {
    import spark.implicits._
    val loc = tmp()
    val t = mk(loc)
    // three appends with disjoint id ranges -> manifest stats separate them
    val a1 = t.append(df((0L until 10L).map(i => (i, i, s"v$i"))))
    t.append(df((10L until 20L).map(i => (i, i, s"v$i"))))
    t.append(df((20L until 30L).map(i => (i, i, s"v$i"))))
    val s0 = t.meta.head("main").get
    val rangeOne = Meta.readEntries(loc, a1).filter(_.fileType == "data")
      .map(e => e.path).toSet
    val allData = Meta.readEntries(loc, s0).filter(_.fileType == "data")
      .map(e => e.path).toSet

    // (1) key inside ONE range: only that range's files are candidates
    t.deleteByKeys(Seq(5L).toDF("id"))
    val ch = t.changes(s0.snapshotId).collect()
    val (before, after) = t.lastChangesScope.getOrElse(
      fail("an eq-delete window must take the scoped path now"))
    assert(before == after && before.nonEmpty, s"got $before / $after")
    assert(before.forall(p => rangeOne.exists(p.endsWith)),
      s"stats must exclude the other ranges, got $before")
    assert(ch.map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"))).toSeq ==
      Seq(("delete", 5L)))

    // (2) key outside EVERY range: zero candidate files, zero change rows
    val s1 = t.meta.head("main").get
    t.deleteByKeys(Seq(1000L).toDF("id"))
    assert(t.changes(s1.snapshotId).collect().isEmpty)
    assert(t.lastChangesScope.contains((Set.empty[String], Set.empty[String])),
      s"no survivor admits 1000, got ${t.lastChangesScope}")

    // (3) a NULL key defeats min/max bounding (null-safe equality matches
    // rows stats can't see) -> the bound degrades to ALL survivors, which
    // is still the scoped path, and the answer still matches the oracle
    val s2 = t.meta.head("main").get
    t.deleteByKeys(Seq[java.lang.Long](null).toDF("id"))
    val scoped3 = canon(t.changes(s2.snapshotId)) // capture scope BEFORE the
    val (b3, _) = t.lastChangesScope.get          // oracle call resets it
    assert(scoped3 == canon(t.changesStateDiff(s2.snapshotId)))
    assert(b3.size == allData.size,
      s"null key must keep every survivor a candidate: ${b3.size} vs ${allData.size}")
  }

  test("fuzz: scoped changes() equals the state diff on random op sequences") {
    import spark.implicits._
    for (seedVal <- 1L to 4L) {
      val rnd = new Random(seedVal)
      val loc = tmp()
      val partitioned = seedVal % 2 == 0
      val t = mk(loc, if (partitioned) Seq("k") else Nil)
      var nextId = 0L
      var evolved = false
      def fresh(n: Int) = (0 until n).map { _ =>
        nextId += 1; (nextId, rnd.nextInt(5).toLong, "s" + rnd.nextInt(3))
      }
      def freshDf(n: Int) = {
        val base = df(fresh(n))
        if (evolved) base.withColumn("v", lit(9L)) else base
      }
      val snaps = scala.collection.mutable.ArrayBuffer[Long]()
      snaps += t.append(freshDf(8)).snapshotId
      for (step <- 1 until 14) {
        // mid-sequence schema evolution: the scoped sides must align old
        // files to the widened presented schema exactly like the oracle
        if (step == 7) { t.addColumn("v", "bigint", initialDefault = Some("5")); evolved = true }
        val m = 2 + rnd.nextInt(3)
        val cond = s"k % $m = ${rnd.nextInt(m)}"
        val snap = rnd.nextInt(11) match {
          case 0 | 1 => t.append(freshDf(3 + rnd.nextInt(6)))
          case 2 => t.delete(cond, WriteMode.CopyOnWrite)
          case 3 => t.delete(cond, WriteMode.MergeOnRead)
          case 4 => t.delete(cond, WriteMode.DeletionVector)
          case 5 => t.update(cond, Map("s" -> s"concat(s, '$step')"),
            WriteMode.CopyOnWrite)
          case 6 => t.update(cond, Map("s" -> s"concat(s, '$step')"),
            WriteMode.MergeOnRead)
          case 7 => t.compact(targetMB = 1)
          case 8 if nextId > 0 =>
            // equality delete in-window: the scope must bound candidates
            // by id stats yet still equal the oracle — including when the
            // deleted id was already gone or lives in a compacted file
            // whose seq is NEWER than the delete's
            val ids = Seq.fill(1 + rnd.nextInt(3))(1 + rnd.nextLong(nextId))
            t.deleteByKeys(ids.toDF("id"))
          case 9 if partitioned =>
            // dynamic partition overwrite: whole-partition swap commits
            t.overwritePartitions(freshDf(2 + rnd.nextInt(4)))
          case _ => t.rewriteDeleteFiles()
        }
        snaps += snap.snapshotId
      }
      // every suffix window from a sampled start, plus random interior pairs
      val pairs = (0 until snaps.size by 3).map(i => (i, snaps.size - 1)) ++
        Seq.fill(4)((rnd.nextInt(snaps.size - 1), snaps.size - 1)) ++
        Seq.fill(4) { val i = rnd.nextInt(snaps.size - 1); (i, i + 1 + rnd.nextInt(snaps.size - 1 - i)) }
      pairs.foreach { case (i, j) =>
        val scoped = canon(t.changes(snaps(i), Some(snaps(j))))
        val oracle = canon(t.changesStateDiff(snaps(i), Some(snaps(j))))
        assert(scoped == oracle,
          s"seed=$seedVal window=${snaps(i)}->${snaps(j)} scoped=$scoped oracle=$oracle")
      }
    }
  }
}
