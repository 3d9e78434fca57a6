package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.table._

/** End-to-end properties of the graft table format on micro data:
  * snapshot isolation, row-level ops in all write modes, schema evolution,
  * hidden partitioning + manifest pruning, maintenance, refs, lineage. */
class TableSpec extends SparkSpec {

  private def tmp(): String =
    Scratch.dir("graft-spec").resolve("t").toString

  private def mkOrders(loc: String, partitionBy: Seq[String] = Nil): GraftTable = {
    val t = GraftTable.create(spark, loc,
      "o_orderkey bigint, o_custkey bigint, o_status string, o_total double",
      partitionBy)
    t
  }

  private def seedDf(rows: Seq[(Long, Long, String, Double)]) = {
    import spark.implicits._
    rows.toDF("o_orderkey", "o_custkey", "o_status", "o_total")
  }

  private val seed = Seq(
    (1L, 10L, "O", 100.0), (2L, 10L, "F", 200.0), (3L, 20L, "O", 300.0),
    (4L, 20L, "F", 400.0), (5L, 30L, "O", 500.0), (6L, 30L, "F", 600.0))

  test("external python writer: CAS racing commits, exactly one wins; state stays sound") {
    import spark.implicits._
    def idsDf(rows: (Long, String, Double)*) = rows.toDF("id", "status", "total")
    def ids(loc: String): Set[Long] = GraftTable.load(spark, loc).scan()
      .select("id").collect().map(_.getLong(0)).toSet
    val loc = tmp()
    val t = GraftTable.create(spark, loc, "id bigint, status string, total double")
    t.append(idsDf((1L, "A", 10.0), (2L, "B", 20.0)))
    val baseV = Meta.currentVersion(loc).get
    // two EXTERNAL commits pinned to the same base: the hard-link CAS lets
    // exactly one publish v(base+1); the loser exits 2 and changes nothing
    assert(graft.ops.Interop.runExtWriter(loc, Seq((10L, "C", 100.0)),
      pin = Some(baseV)) == 0)
    assert(graft.ops.Interop.runExtWriter(loc, Seq((11L, "D", 110.0)),
      pin = Some(baseV)) == 2)
    assert(ids(loc) == Set(1L, 2L, 10L), "loser's rows must not appear")
    // EXTERNAL commit wins against a stale NATIVE handle: the native append
    // rebases (additive) — both commits' rows survive, no lost update
    val stale = GraftTable.load(spark, loc)
    assert(graft.ops.Interop.runExtWriter(loc, Seq((20L, "E", 200.0))) == 0)
    stale.append(idsDf((21L, "F", 210.0)))
    assert(ids(loc) == Set(1L, 2L, 10L, 20L, 21L))
    // NATIVE commit wins against a pinned EXTERNAL committer: the external
    // CAS publish finds its version taken and exits 2
    val v3 = Meta.currentVersion(loc).get
    GraftTable.load(spark, loc).append(idsDf((30L, "G", 300.0)))
    assert(graft.ops.Interop.runExtWriter(loc, Seq((31L, "H", 310.0)),
      pin = Some(v3)) == 2)
    assert(ids(loc) == Set(1L, 2L, 10L, 20L, 21L, 30L))
    // externally-committed manifests carry correct row counts (countFast
    // is metadata-only) and row lineage stays globally unique
    val fin = GraftTable.load(spark, loc)
    assert(fin.countFast() == 6L)
    val rids = fin.scan(withLineage = true)
      .select("_row_id").collect().map(_.getLong(0))
    assert(rids.distinct.length == 6, s"row ids must be unique: ${rids.toSeq}")
    // external MERGE-ON-READ position delete: python walks the manifests,
    // locates the row positions with pyarrow, commits (file_path, pos) —
    // the Spark scan must apply the externally-written overlay
    assert(graft.ops.Interop.runExtWriterDelete(loc, "id", Seq(2L, 20L)) == 0)
    assert(ids(loc) == Set(1L, 10L, 21L, 30L), "external MoR delete must apply")
    // and a native CoW update still works ON TOP of the external overlay
    GraftTable.load(spark, loc).update("id = 10",
      Map("total" -> "total + 1.0"), WriteMode.CopyOnWrite)
    val after = GraftTable.load(spark, loc).scan()
      .select("id", "total").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(after == Map(1L -> 10.0, 10L -> 101.0, 21L -> 210.0, 30L -> 300.0))
    // the python-written manifest STATS must drive pruning: a point query
    // outside the external file's id range prunes it, one inside keeps it
    // (the surviving external data file is the one holding id 20 — the
    // id-10 file was rewritten by the CoW update above)
    val extFiles = GraftTable.load(spark, loc).liveFiles()
      .filter(f => f.fileType == "data" && f.path.contains("-ext")).map(_.path).toSet
    assert(extFiles.nonEmpty, "external data file must be live")
    val prunedHit = GraftTable.load(spark, loc).prunedFiles("id = 20")
      .map(_.path).toSet
    val prunedMiss = GraftTable.load(spark, loc).prunedFiles("id = 999")
      .map(_.path).toSet
    assert(extFiles.subsetOf(prunedHit), "stats must keep the ext file for id=20")
    assert(extFiles.intersect(prunedMiss).isEmpty,
      "stats must prune the ext file for out-of-range ids")
    // external EQUALITY delete: kills current 'A'-status rows; a native
    // append AFTER it re-adds an 'A' row that must SURVIVE (the format's
    // sequence gate applies eq-deletes only to OLDER data files)
    assert(graft.ops.Interop.runExtWriterDeleteEq(loc, "status", Seq("A")) == 0)
    assert(ids(loc) == Set(10L, 21L, 30L), "external eq-delete must apply (1 was 'A')")
    GraftTable.load(spark, loc).append(idsDf((40L, "A", 400.0)))
    assert(ids(loc) == Set(10L, 21L, 30L, 40L),
      "a newer-sequence 'A' row must survive the external eq-delete")
    // SCHEMA EVOLUTION across writers: rename natively (metadata-only —
    // the field ID is the identity), then an external append under the
    // NEW logical name must land in the same physical f<id> column and
    // read back beside every earlier generation
    GraftTable.load(spark, loc).renameColumn("status", "state")
    assert(graft.ops.Interop.runExtWriter(loc, Seq((50L, "Z", 500.0)),
      cols = ("id", "state", "total")) == 0)
    val evolved = GraftTable.load(spark, loc).scan()
      .select("id", "state").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(evolved == Map(10L -> "C", 21L -> "F", 30L -> "G", 40L -> "A", 50L -> "Z"),
      s"post-rename external append must map by field id, got $evolved")
  }

  test("external writer batch (--ops): one process commits the identical history as N processes") {
    import spark.implicits._
    def idsDf(rows: (Long, String, Double)*) = rows.toDF("id", "status", "total")
    def state(loc: String): (Int, Set[(Long, String, Double)]) = {
      val v = Meta.currentVersion(loc).get
      val rows = GraftTable.load(spark, loc).scan()
        .select("id", "status", "total").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      (v, rows)
    }
    val ext = Seq((10L, "C", 100.0), (11L, "A", 110.0), (12L, "B", 120.0))
    // table A: three separate python processes (the pre-round-16 shape)
    val locA = tmp()
    GraftTable.create(spark, locA, "id bigint, status string, total double")
      .append(idsDf((1L, "A", 10.0), (2L, "B", 20.0)))
    assert(graft.ops.Interop.runExtWriter(locA, ext) == 0)
    assert(graft.ops.Interop.runExtWriterDelete(locA, "id", Seq(2L, 12L)) == 0)
    assert(graft.ops.Interop.runExtWriterDeleteEq(locA, "status", Seq("A")) == 0)
    // table B: the SAME three ops through one --ops batch process
    val locB = tmp()
    GraftTable.create(spark, locB, "id bigint, status string, total double")
      .append(idsDf((1L, "A", 10.0), (2L, "B", 20.0)))
    assert(graft.ops.Interop.runExtWriterOps(Seq(
      graft.ops.Interop.extAppendArgs(locB, ext),
      graft.ops.Interop.extDeleteArgs(locB, "id", Seq(2L, 12L)),
      graft.ops.Interop.extDeleteEqArgs(locB, "status", Seq("A")))) == 0)
    val (va, rowsA) = state(locA)
    val (vb, rowsB) = state(locB)
    assert(vb == va, s"batch must publish one version per op ($vb vs $va)")
    // the eq-delete (seq 4) kills BOTH 'A' rows — seed row 1 and the
    // batch-appended row 11 (data seq 2 < delete seq 4)
    assert(rowsA == Set((10L, "C", 100.0)))
    assert(rowsB == rowsA, "batch-committed state must equal per-process state")
    // a failing op mid-batch aborts the batch with a nonzero exit and
    // leaves the ops before it committed, after it uncommitted — the
    // same observable sequence as separate processes stopping at the
    // first failure
    val vPre = Meta.currentVersion(locB).get
    val rc = graft.ops.Interop.runExtWriterOps(Seq(
      graft.ops.Interop.extAppendArgs(locB, Seq((20L, "D", 200.0))),
      graft.ops.Interop.extAppendArgs(locB, Seq((21L, "E", 210.0)), pin = Some(1))))
    assert(rc != 0, "a CAS-losing op mid-batch must fail the batch")
    assert(Meta.currentVersion(locB).get == vPre + 1,
      "ops before the failing one stay committed; nothing after it lands")
  }

  test("external python writer on a BRANCH: isolation, refusals, CAS race across branches") {
    import spark.implicits._
    def idsDf(rows: (Long, String, Double)*) = rows.toDF("id", "status", "total")
    def ids(loc: String, ref: String): Set[Long] = GraftTable.load(spark, loc)
      .scan(ref = Some(ref)).select("id").collect().map(_.getLong(0)).toSet
    val loc = tmp()
    val t = GraftTable.create(spark, loc, "id bigint, status string, total double")
    t.append(idsDf((1L, "A", 10.0), (2L, "B", 20.0)))
    // refusals first: unknown branch and tag targets fail loudly, no commit
    assert(graft.ops.Interop.runExtWriter(loc, Seq((9L, "X", 9.0)),
      branch = Some("nope")) == 1, "unknown branch must refuse")
    t.createTag("v1")
    assert(graft.ops.Interop.runExtWriter(loc, Seq((9L, "X", 9.0)),
      branch = Some("v1")) == 1, "a tag target must refuse")
    t.createBranch("audit")
    // external append to the audit branch: audit advances, main untouched
    assert(graft.ops.Interop.runExtWriter(loc, Seq((10L, "C", 100.0)),
      branch = Some("audit")) == 0)
    assert(ids(loc, "audit") == Set(1L, 2L, 10L))
    assert(ids(loc, "main") == Set(1L, 2L))
    // branch-scoped external MoR delete: bites audit (including a snap-1
    // file main still reads in full), never main
    assert(graft.ops.Interop.runExtWriterDelete(loc, "id", Seq(2L, 10L),
      branch = Some("audit")) == 0)
    assert(ids(loc, "audit") == Set(1L))
    assert(ids(loc, "main") == Set(1L, 2L))
    // CAS is version-level and branch-independent: two pinned commits to
    // DIFFERENT branches from one base still race, exactly one wins
    val baseV = Meta.currentVersion(loc).get
    assert(graft.ops.Interop.runExtWriter(loc, Seq((20L, "D", 200.0)),
      pin = Some(baseV), branch = Some("audit")) == 0)
    assert(graft.ops.Interop.runExtWriter(loc, Seq((21L, "E", 210.0)),
      pin = Some(baseV)) == 2, "cross-branch racer must still lose the CAS")
    assert(ids(loc, "audit") == Set(1L, 20L))
    assert(ids(loc, "main") == Set(1L, 2L))
    // WAP publish: the native fast-forward lands the audited work on main
    GraftTable.load(spark, loc).fastForward("main", "audit")
    assert(ids(loc, "main") == Set(1L, 20L))
  }

  test("external python COPY-ON-WRITE update: semantics, lineage, CAS race, incremental gate") {
    import spark.implicits._
    def idsDf(rows: (Long, String, Double)*) = rows.toDF("id", "status", "total")
    val loc = tmp()
    val t = GraftTable.create(spark, loc, "id bigint, status string, total double")
    // coalesce(1): the overlay-consumption assertion below assumes the
    // native seed lands in ONE file (so the id=3 posdel targets the file
    // the id=5 update rewrites)
    val s1 = t.append(idsDf((1L, "A", 10.0), (2L, "B", 20.0), (3L, "A", 30.0)).coalesce(1))
    assert(graft.ops.Interop.runExtWriter(loc, Seq((4L, "C", 40.0), (5L, "A", 50.0))) == 0)
    val ridsBefore = GraftTable.load(spark, loc).scan(withLineage = true)
      .select("id", "_row_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // external CoW update spans BOTH writers' files (ids 2 native, 4 ext)
    assert(graft.ops.Interop.runExtWriterUpdate(loc, "id", Seq(2L, 4L),
      "total", 1000.0) == 0)
    val after = GraftTable.load(spark, loc).scan()
      .select("id", "total").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(after == Map(1L -> 10.0, 2L -> 1020.0, 3L -> 30.0,
      4L -> 1040.0, 5L -> 50.0), s"update semantics, got $after")
    // v3 lineage survives the foreign rewrite: _row_id stable per row,
    // _last_updated_sequence_number bumped ONLY for the hit rows
    val lin = GraftTable.load(spark, loc).scan(withLineage = true)
      .select("id", "_row_id", "_last_updated_sequence_number").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(lin.view.mapValues(_._1).toMap == ridsBefore,
      s"_row_id must be stable across the external rewrite: $lin vs $ridsBefore")
    val updSeq = lin(2L)._2
    assert(updSeq == lin(4L)._2 && updSeq > lin(1L)._2 && updSeq > lin(5L)._2,
      s"hit rows must carry the update's sequence, others their origin: $lin")
    // summary is truthful added+removed → scanIncremental refuses the window
    val err = intercept[IllegalArgumentException](
      GraftTable.load(spark, loc).scanIncremental(s1.snapshotId))
    assert(err.getMessage.contains("rewriting"), err.getMessage)
    // CAS race: a native commit takes the version the pinned external
    // update validated against — exactly one wins, the loser exits 2
    val vPin = Meta.currentVersion(loc).get
    GraftTable.load(spark, loc).append(idsDf((6L, "D", 60.0)))
    assert(graft.ops.Interop.runExtWriterUpdate(loc, "id", Seq(1L),
      "total", 5.0, pin = Some(vPin)) == 2, "racing external update must lose")
    val finals = GraftTable.load(spark, loc).scan()
      .select("id", "total").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(finals(1L) == 10.0 && finals(6L) == 60.0,
      s"loser must change nothing, winner's row present: $finals")
    // overlay resolution: an external rewrite over a live MoR overlay
    // materializes the delete (the dead row stays out of the rewritten
    // file, and neither updates nor resurrects) and drops the consumed
    // posdel entry from the manifests in the same commit
    GraftTable.load(spark, loc).delete("id = 3", WriteMode.MergeOnRead)
    assert(graft.ops.Interop.runExtWriterUpdate(loc, "id", Seq(5L),
      "total", 1.0) == 0, "rewrite over a live MoR overlay must commit")
    val t2 = GraftTable.load(spark, loc)
    val resolved = t2.scan().select("id", "total").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!resolved.contains(3L) && resolved(5L) == 51.0 &&
      resolved(1L) == 10.0 && resolved(6L) == 60.0,
      s"overlay must resolve into the rewrite: $resolved")
    val headEntries = t2.meta.head("main").toSeq
      .flatMap(s => graft.table.Meta.readEntries(loc, s))
    assert(headEntries.forall(_.fileType == "data"),
      s"the consumed posdel entry must leave the manifests: " +
        headEntries.map(e => e.fileType -> e.path).mkString(", "))
  }

  test("external python MERGE: upsert over live overlays, schema defaults, cardinality, CAS race") {
    import spark.implicits._
    val loc = tmp()
    val t = GraftTable.create(spark, loc, "id bigint, status string, total double")
    // coalesce(1) throughout: the overlay keep/drop assertions below
    // assume one file per native append
    t.append(Seq((1L, "A", 10.0), (2L, "B", 20.0), (5L, "E", 50.0))
      .toDF("id", "status", "total").coalesce(1))              // file 1 (native)
    assert(graft.ops.Interop.runExtWriter(loc,
      Seq((3L, "C", 30.0), (4L, "D", 40.0))) == 0)             // file 2 (ext)
    // a live posdel spanning files 1+2, then a schema evolution with a
    // v3 default, then a post-evolution file with its own posdel — the
    // merge must rewrite THROUGH all of it
    GraftTable.load(spark, loc).delete("id = 2 or id = 3", WriteMode.MergeOnRead)
    GraftTable.load(spark, loc).addColumn("score", "double", Some("2.5"))
    GraftTable.load(spark, loc).append(Seq((6L, "F", 60.0, 6.5), (7L, "G", 70.0, 0.5))
      .toDF("id", "status", "total", "score").coalesce(1))     // file 3 (schema 1)
    GraftTable.load(spark, loc).delete("id = 7", WriteMode.MergeOnRead)
    val ridsBefore = GraftTable.load(spark, loc).scan(withLineage = true)
      .select("id", "_row_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // cardinality guard: duplicate source keys refuse up front
    assert(graft.ops.Interop.runExtWriterMerge(loc, "id", Seq(
      """{"id":4,"total":1.0}""", """{"id":4,"total":2.0}""")) != 0,
      "duplicate-key merge source must be refused")
    // the MERGE: id 4 matched-replaced; id 5 matched with score OMITTED
    // (keeps the target's materialized default); id 3's only row is
    // DEAD, so it re-INSERTS with the source values; id 9 inserts
    assert(graft.ops.Interop.runExtWriterMerge(loc, "id", Seq(
      """{"id":4,"status":"D","total":44.0,"score":7.5}""",
      """{"id":3,"status":"Z","total":33.0,"score":3.5}""",
      """{"id":9,"status":"I","total":90.0,"score":9.5}""",
      """{"id":5,"status":"E","total":55.0}""")) == 0, "external merge failed")
    val m = GraftTable.load(spark, loc)
    val got = m.scan().select("id", "status", "total", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(got == Set(
      (1L, "A", 10.0, 2.5),  // carried: pre-evolution default MATERIALIZED
      (5L, "E", 55.0, 2.5),  // matched, omitted column keeps the default
      (4L, "D", 44.0, 7.5),  // matched, replaced
      (3L, "Z", 33.0, 3.5),  // dead key re-inserted, not resurrected
      (9L, "I", 90.0, 9.5),  // fresh insert
      (6L, "F", 60.0, 6.5)), // untouched file 3; id 7 stays deleted
      s"merge semantics, got $got")
    // lineage: matched rows keep their _row_id and bump their sequence;
    // inserts get fresh ids; every id distinct
    val lin = m.scan(withLineage = true)
      .select("id", "_row_id", "_last_updated_sequence_number").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(lin.map(_._2).distinct.length == lin.length, s"row ids must be unique: ${lin.toSeq}")
    val linMap = lin.map(x => x._1 -> (x._2, x._3)).toMap
    assert(linMap(4L)._1 == ridsBefore(4L) && linMap(5L)._1 == ridsBefore(5L) &&
      linMap(1L)._1 == ridsBefore(1L),
      s"matched/carried rows keep row ids: ${lin.toSeq} vs $ridsBefore")
    assert(linMap(4L)._2 == linMap(5L)._2 && linMap(4L)._2 > linMap(1L)._2,
      s"matched rows carry the merge sequence, carried rows their origin: ${lin.toSeq}")
    // overlay consumption: the files-1+2 posdel was fully consumed by the
    // rewrite and left the manifests; file 3's posdel survives (and still
    // deletes id 7 above)
    val overlays = m.meta.head("main").toSeq
      .flatMap(s => graft.table.Meta.readEntries(loc, s))
      .filter(_.fileType != "data")
    assert(overlays.size == 1 && overlays.head.fileType == "posdel",
      s"exactly the partially-targeted posdel survives: " +
        overlays.map(e => e.fileType -> e.path).mkString(", "))
    // CAS race: a pinned merge racing a native commit loses cleanly
    val vPin = Meta.currentVersion(loc).get
    GraftTable.load(spark, loc).append(
      Seq((11L, "K", 110.0, 1.0)).toDF("id", "status", "total", "score"))
    assert(graft.ops.Interop.runExtWriterMerge(loc, "id",
      Seq("""{"id":9,"total":1.0}"""), pin = Some(vPin)) == 2,
      "racing external merge must lose the CAS")
    assert(GraftTable.load(spark, loc).scan().count() == 7)
  }

  test("external python add-column: metadata-only commit, defaults, mixed appends") {
    import spark.implicits._
    val loc = tmp()
    val t = GraftTable.create(spark, loc, "id bigint, status string, total double")
    t.append(Seq((1L, "A", 10.0), (2L, "B", 20.0)).toDF("id", "status", "total"))
    val vBefore = Meta.currentVersion(loc).get
    val snapsBefore = GraftTable.load(spark, loc).meta.snapshots.size
    assert(graft.ops.Interop.runExtWriterAddColumn(loc, "score", "double",
      Some("2.5")) == 0)
    // metadata-only: version advanced, NO snapshot added
    assert(Meta.currentVersion(loc).get == vBefore + 1)
    val m = GraftTable.load(spark, loc).meta
    assert(m.snapshots.size == snapsBefore, "add-column must add no snapshot")
    assert(m.currentSchema.byName("score").initialDefault.contains("2.5"))
    assert(m.lastFieldId == 4 && m.currentSchemaId == 1)
    // external append WITH the new field id, then a native one
    assert(graft.ops.Interop.runExtWriterScored(loc,
      Seq((3L, "C", 30.0, 7.0))) == 0)
    GraftTable.load(spark, loc).append(
      Seq((4L, "D", 40.0, 9.0)).toDF("id", "status", "total", "score"))
    val got = GraftTable.load(spark, loc).scan()
      .select("id", "score").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 2.5, 2L -> 2.5, 3L -> 7.0, 4L -> 9.0),
      s"pre-evolution files present the default, post-evolution real values: $got")
    // racing add-column loses the CAS cleanly
    val vPin = Meta.currentVersion(loc).get
    GraftTable.load(spark, loc).append(
      Seq((5L, "E", 50.0, 1.0)).toDF("id", "status", "total", "score"))
    assert(graft.ops.Interop.runExtWriterAddColumn(loc, "extra", "bigint",
      pin = Some(vPin)) == 2, "racing external add-column must lose")
    assert(GraftTable.load(spark, loc).meta.currentSchema.fields
      .forall(_.name != "extra"))
  }

  test("external python writer appends into identity partitions; pruning applies") {
    import spark.implicits._
    def idsDf(rows: (Long, String, Double)*) = rows.toDF("id", "status", "total")
    val loc = tmp()
    val t = GraftTable.create(spark, loc, "id bigint, status string, total double",
      Seq("identity(status)"))
    t.append(idsDf((1L, "A", 10.0), (2L, "B", 20.0)))
    // python groups rows by partition tuple, writes one file per
    // partition under the native _p_ dir layout with partition values in
    // the manifest entries
    assert(graft.ops.Interop.runExtWriter(loc,
      Seq((10L, "A", 100.0), (11L, "C", 110.0), (12L, "C", 120.0))) == 0)
    val all = GraftTable.load(spark, loc).scan()
      .select("id").collect().map(_.getLong(0)).toSet
    assert(all == Set(1L, 2L, 10L, 11L, 12L))
    // the externally-written partition VALUES must drive pruning: a
    // status='C' read touches only the external C file
    val cFiles = GraftTable.load(spark, loc).prunedFiles("status = 'C'")
    assert(cFiles.nonEmpty && cFiles.forall(f =>
      f.partition("status") == "C" && f.path.contains("-ext")),
      s"C-partition read must hit only the external C file: ${cFiles.map(_.path)}")
    val cRows = GraftTable.load(spark, loc)
      .scan(filter = Some("status = 'C'"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(cRows == Set(11L, 12L))
    // external A rows coexist with the native A partition file
    val aRows = GraftTable.load(spark, loc)
      .scan(filter = Some("status = 'A'"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(aRows == Set(1L, 10L))
  }

  test("create/append/scan round-trips; second append adds a snapshot") {
    val t = mkOrders(tmp())
    t.append(seedDf(seed))
    assert(t.scan().count() == 6)
    t.append(seedDf(Seq((7L, 40L, "O", 700.0))))
    assert(t.scan().count() == 7)
    assert(t.meta.snapshots.size == 2)
    val got = t.scan(filter = Some("o_custkey = 10")).select("o_orderkey")
      .collect().map(_.getLong(0)).sorted
    assert(got.sameElements(Array(1L, 2L)))
  }

  test("segmented manifests: commits carry parent segments, rewrite coalesces") {
    val t = mkOrders(tmp())
    t.append(seedDf(seed))
    val seg1 = t.meta.head("main").get.manifests
    assert(seg1.size == 1)
    t.append(seedDf(Seq((7L, 40L, "O", 700.0))))
    t.append(seedDf(Seq((8L, 40L, "F", 800.0))))
    val seg3 = t.meta.head("main").get.manifests
    // O(change) metadata: each append adds ONE segment and carries the
    // parent's segments by reference (same paths, not rewritten)
    assert(seg3.size == 3 && seg3.startsWith(seg1))
    // a delete rewrites only the segment(s) containing removed entries
    t.delete("o_orderkey = 7", WriteMode.CopyOnWrite)
    val segDel = t.meta.head("main").get.manifests
    assert(segDel.contains(seg1.head), "untouched segment must carry forward")
    assert(!segDel.contains(seg3(1)), "dirty segment must be replaced")
    val before = t.scan().collect().map(_.toSeq).toSet
    // metadata-only coalesce: one clustered segment, identical data
    val s = t.rewriteManifests()
    assert(s.operation == "rewrite-manifests")
    assert(t.meta.head("main").get.manifests.size == 1)
    assert(t.scan().collect().map(_.toSeq).toSet == before)
    // expire keeps shared segments alive while any survivor references them
    val (dropped, _) = t.expireSnapshots(System.currentTimeMillis() + 1)
    assert(dropped > 0)
    assert(t.scan().collect().map(_.toSeq).toSet == before)
  }

  test("rewrite_position_deletes merges tombstones, drops dead ones") {
    val t = mkOrders(tmp())
    t.append(seedDf(seed))
    t.delete("o_orderkey = 1", WriteMode.MergeOnRead)
    t.delete("o_orderkey = 3", WriteMode.MergeOnRead)
    t.delete("o_orderkey = 3", WriteMode.MergeOnRead) // duplicate tombstone
    def pds = Meta.readEntries(t.location, t.meta.head("main").get)
      .filter(_.fileType == "posdel")
    assert(pds.size == 3)
    val before = t.scan().collect().map(_.getLong(0)).sorted
    t.rewriteDeleteFiles()
    assert(pds.size == 1, s"expected 1 merged delete file, got ${pds.size}")
    assert(pds.head.rowCount == 2, "duplicate tombstones must dedupe")
    assert(t.scan().collect().map(_.getLong(0)).sorted.sameElements(before))
    // compaction applies deletes and rewrites data; stale tombstones die
    t.delete("o_orderkey = 5", WriteMode.MergeOnRead)
    t.compact()
    t.delete("o_orderkey = 2", WriteMode.MergeOnRead)
    t.delete("o_orderkey = 4", WriteMode.MergeOnRead)
    t.rewriteDeleteFiles()
    assert(pds.size == 1 && pds.head.rowCount == 2,
      "only tombstones for LIVE files survive the rewrite")
    assert(t.scan().collect().map(_.getLong(0)).sorted.sameElements(Seq(6L)))
  }

  test("snapshot isolation: a scan handle pins its snapshot across commits") {
    val t = mkOrders(tmp())
    t.append(seedDf(seed))
    val pinned = t.scan() // resolves the file list at construction
    // a CoW delete rewrites files and publishes a new snapshot...
    t.delete("o_orderkey <= 3", WriteMode.CopyOnWrite)
    assert(t.scan().count() == 3, "new reads see the delete")
    // ...but the already-constructed handle still reads ITS files (old
    // files stay on storage until snapshot expiry removes them)
    assert(pinned.count() == 6, "pinned handle must keep its snapshot")
    assert(pinned.collect().map(_.getLong(0)).sorted.sameElements(1L to 6L))
  }

  test("query determinism: tricky operators return identical results on re-run") {
    def fingerprint(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)](
      "minhash" -> graft.ops.Dedup.queries("q_dedup_minhash"),
      "train_shuffle" -> graft.ops.Sampling.queries("q_train_shuffle"),
      "kmeans" -> graft.ops.Clustering.queries("q_cluster_kmeans"))
      .foreach { case (name, fn) =>
        val a = fingerprint(fn(spark, sf))
        val b = fingerprint(fn(spark, sf))
        assert(a == b, s"$name must be run-to-run deterministic")
      }
  }

  test("snapshot summaries record what each commit changed") {
    val t = mkOrders(tmp())
    t.append(seedDf(seed))
    val s1 = t.meta.head("main").get.summary
    assert(s1("added-records") == "6" && s1("removed-files") == "0")
    t.delete("o_orderkey <= 2", WriteMode.CopyOnWrite)
    val s2 = t.meta.head("main").get.summary
    assert(s2("removed-files").toInt >= 1, s2.toString)
    // CoW rewrite: net record change across the commit is the 2 deletions
    assert(s2("removed-records").toInt - s2("added-records").toInt == 2, s2.toString)
    assert(t.metaTable("snapshots").columns.contains("summary"))
  }

  test("add_files registers parquet in place; row-level ops still work") {
    // an EXTERNAL parquet dir, logical column names, never rewritten
    val ext = tmp() + "-ext"
    seedDf(seed).write.parquet(ext)
    val t = mkOrders(tmp())
    t.addFiles(ext)
    assert(t.scan().collect().map(_.getLong(0)).sorted.sameElements(1L to 6L))
    val entry = Meta.readEntries(t.location, t.meta.head("main").get)
      .filter(_.fileType == "data")
    assert(entry.forall(_.nameMapped), "imported entries must be name-mapped")
    assert(entry.forall(_.path.startsWith("/")), "registered in place (absolute)")
    assert(entry.exists(_.stats.nonEmpty), "footer stats collected by logical name")
    // filters + min/max pruning work over imported stats
    assert(t.scan(filter = Some("o_orderkey = 3")).count() == 1)
    // native appends coexist with imported files (two read groups)
    t.append(seedDf(Seq((7L, 40L, "O", 700.0))))
    assert(t.scan().count() == 7)
    // CoW delete materializes affected imported files into graft layout
    t.delete("o_orderkey = 2", WriteMode.CopyOnWrite)
    assert(t.scan().collect().map(_.getLong(0)).sorted.sameElements(
      Seq(1L, 3L, 4L, 5L, 6L, 7L)))
    // guards: partitioned target and missing columns are rejected
    val tp = mkOrders(tmp(), partitionBy = Seq("identity(o_status)"))
    intercept[UnsupportedOperationException] { tp.addFiles(ext) }
    val t2 = GraftTable.create(spark, tmp(), "o_orderkey bigint, nope string")
    intercept[IllegalArgumentException] { t2.addFiles(ext) }
  }

  test("add_files rejects type mismatches and duplicate registration") {
    import spark.implicits._
    // type guard: INT file column vs declared BIGINT would otherwise fail
    // opaquely at scan time
    val extInt = tmp() + "-int"
    Seq((1, 10L, "O", 1.0)).toDF("o_orderkey", "o_custkey", "o_status", "o_total")
      .write.parquet(extInt)
    val t = mkOrders(tmp())
    val e = intercept[IllegalArgumentException] { t.addFiles(extInt) }
    assert(e.getMessage.contains("o_orderkey"), e.getMessage)
    // duplicate guard: registering the same source twice would double-count
    val ext = tmp() + "-ok"
    seedDf(seed).write.parquet(ext)
    t.addFiles(ext)
    assert(t.scan().count() == 6)
    val d = intercept[IllegalArgumentException] { t.addFiles(ext) }
    assert(d.getMessage.contains("already registered"), d.getMessage)
  }

  test("stale-handle add_files re-checks duplicates on rebase") {
    val ext = tmp() + "-ext"
    seedDf(seed).write.parquet(ext)
    val loc = tmp()
    val t1 = mkOrders(loc)
    val t2 = GraftTable.load(spark, loc) // pins the empty state NOW
    t1.addFiles(ext)
    // t2's pre-commit duplicate check runs against its stale base (which
    // has no files), so only the rebase-path re-check against the fresh
    // head can stop the double registration
    val e = intercept[CommitConflictException] { t2.addFiles(ext) }
    assert(e.getMessage.contains("registered concurrently"), e.getMessage)
    assert(t1.scan().count() == 6, "rows double-counted by rebased add_files")
    // a rebase over an UNRELATED concurrent commit still succeeds
    val ext2 = tmp() + "-ext2"
    seedDf(Seq((7L, 40L, "O", 700.0))).write.parquet(ext2)
    val t3 = GraftTable.load(spark, loc)
    t1.append(seedDf(Seq((8L, 50L, "F", 800.0))))
    t3.addFiles(ext2) // stale base, different path: rebases cleanly
    assert(t1.scan().count() == 8)
  }

  test("expire never deletes externally registered files (add_files gc safety)") {
    val ext = tmp() + "-ext"
    seedDf(seed).write.parquet(ext)
    val extFiles = Files.list(java.nio.file.Paths.get(ext)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq
    assert(extFiles.nonEmpty)
    val t = mkOrders(tmp())
    t.addFiles(ext)
    // overwrite drops the imported entries from the live view; expiring the
    // import snapshot must NOT physically delete the user's source parquet
    t.overwrite(seedDf(Seq((9L, 90L, "O", 900.0))))
    val (nSnap, _) = t.expireSnapshots(System.currentTimeMillis() + 1000)
    assert(nSnap >= 1)
    extFiles.foreach(f => assert(Files.exists(java.nio.file.Paths.get(f)),
      s"external source file deleted by expire: $f"))
    assert(t.scan().count() == 1)
  }

  test("legacy single-manifest metadata reads back (segmented-manifest shim)") {
    val t = mkOrders(tmp())
    t.append(seedDf(seed))
    // rewrite the current metadata json into the pre-segmentation shape:
    // snapshots carried `manifest: String` instead of `manifests: [..]`
    val v = Meta.currentVersion(t.location).get
    val p = java.nio.file.Paths.get(t.location, "metadata", f"v$v%05d.json")
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val legacy = JsonMethods.parse(Files.readString(p)).transformField {
      case ("manifests", JArray(List(one))) => ("manifest", one)
    }
    Files.writeString(p, JsonMethods.pretty(JsonMethods.render(legacy)))
    // the FIELD is now the legacy singular form (values still contain the
    // "manifests/" path prefix — that's the directory, not the field)
    assert(!Files.readString(p).contains("\"manifests\""))
    assert(Files.readString(p).contains("\"manifest\""))
    val re = GraftTable.load(spark, t.location)
    assert(re.meta.head("main").get.manifests.size == 1)
    assert(re.scan().count() == 6)
  }

  test("legacy shim is scoped to snapshots: a property keyed 'manifest' survives") {
    // the shim rewrites `manifest` fields into `manifests` arrays; applied
    // recursively it would also mangle a user property literally keyed
    // "manifest" (properties are arbitrary strings) and break extraction
    val t = GraftTable.create(spark, tmp(),
      "o_orderkey bigint, o_custkey bigint, o_status string, o_total double",
      Nil, Map("manifest" -> "user-value", "other" -> "x"))
    t.append(seedDf(seed))
    val re = GraftTable.load(spark, t.location)
    assert(re.meta.properties("manifest") == "user-value")
    assert(re.scan().count() == 6)
  }

  test("metadata path at 10k files: prune is fast, commits are O(change), coalesce bounds fan-in") {
    // The 100x scale claim made falsifiable on the METADATA plane: data
    // files are synthetic manifest entries (pruning and commits never open
    // them), so this exercises exactly what a 1000-executor driver does —
    // read segments, prune on stats, write the commit delta.
    import java.nio.file.Paths
    def mkMeta(loc: String, segments: Int, perSeg: Int): Unit = {
      val fields = List(FieldMeta(1, "k", "bigint"), FieldMeta(2, "v", "bigint"))
      val segs = (0 until segments).map { s =>
        val entries = (0 until perSeg).map { i =>
          val n = s * perSeg + i
          // disjoint [n*100, n*100+99] key ranges -> a point query matches 1 file
          FileMeta(s"data/s1/fake-$n.parquet", "data", 0, 0, Map.empty,
            100L, 1000L, 1L,
            Map("1" -> ColStats(Some((n * 100L).toString),
              Some((n * 100L + 99L).toString), 0L)),
            firstRowId = n * 100L)
        }
        Meta.writeManifest(loc, s"1-seg$s", entries)
      }.toList
      val snap = SnapshotMeta(1L, None, 1L, System.currentTimeMillis(),
        "append", 0, segs)
      Meta.writeJsonAt(TableMeta(3, java.util.UUID.randomUUID.toString, 2, 0, 0,
        1L, 1L, segments.toLong * perSeg * 100, 0, 0,
        List(SchemaMeta(0, fields)), List(PartSpecMeta(0, Nil)),
        List(snap), Map("main" -> RefMeta(1L, isBranch = true)), Map.empty), loc,
        Meta.currentVersion(loc).getOrElse(0) + 1)
    }
    // (a) 10k files in 50 segments (under the 64 coalesce bound)
    val loc = tmp()
    java.nio.file.Files.createDirectories(Paths.get(loc))
    mkMeta(loc, segments = 50, perSeg = 200)
    val t = GraftTable.load(spark, loc)
    val t0 = System.nanoTime()
    val entries = t.liveFiles()
    val preds = Pruning.extract("k = 543210", spark)
    val hit = entries.filter(f => f.fileType == "data" &&
      Pruning.fileMatches(f, t.meta, preds))
    val pruneMs = (System.nanoTime() - t0) / 1e6
    assert(entries.size == 10000)
    assert(hit.size == 1 && hit.head.path.endsWith("fake-5432.parquet"))
    // generous bound for a noisy VM; typically ~10x faster
    assert(pruneMs < 2000, s"driver prune of 10k entries took $pruneMs ms")
    // steady-state (classes loaded, SQL parser warm): the per-scan driver
    // cost a long-lived cluster actually pays
    val t1 = System.nanoTime()
    val entries2 = t.liveFiles()
    val preds2 = Pruning.extract("k = 99", spark)
    val hit2 = entries2.filter(f => Pruning.fileMatches(f, t.meta, preds2))
    val warmMs = (System.nanoTime() - t1) / 1e6
    assert(hit2.size == 1)
    assert(warmMs < 800, s"warm driver prune of 10k entries took $warmMs ms")
    // (b) a small append writes O(change) manifest bytes and carries the
    // parent's 50 segments by reference
    import spark.implicits._
    val manifestBytes = () => java.nio.file.Files.list(Paths.get(loc, "manifests"))
      .iterator().asScala.map(java.nio.file.Files.size(_)).sum
    val before = manifestBytes()
    val snap2 = t.append(Seq((1L, 1L)).toDF("k", "v").coalesce(1))
    val delta = manifestBytes() - before
    assert(snap2.manifests.size == 51, "parent segments carried by reference")
    assert(snap2.manifests.count(_.contains("seg")) == 50)
    assert(delta < before / 100,
      s"commit metadata delta $delta B vs table $before B — not O(change)")
    info(f"10k-file table: cold prune $pruneMs%.1f ms, warm $warmMs%.1f ms, " +
      s"manifests ${before / 1024} KiB, commit delta $delta B")
    // (c) past 64 segments the commit auto-coalesces to one
    val loc2 = tmp()
    java.nio.file.Files.createDirectories(Paths.get(loc2))
    mkMeta(loc2, segments = 65, perSeg = 10)
    val t2 = GraftTable.load(spark, loc2)
    val snap3 = t2.append(Seq((1L, 1L)).toDF("k", "v").coalesce(1))
    assert(snap3.manifests.size == 1, s"expected coalesce, got ${snap3.manifests.size}")
    assert(Meta.readEntries(loc2, snap3).size == 651)
  }

  test("time travel by snapshot id and timestamp") {
    val t = mkOrders(tmp())
    val s1 = t.append(seedDf(seed.take(3)))
    Thread.sleep(5)
    t.append(seedDf(seed.drop(3)))
    assert(t.scan(snapshotId = Some(s1.snapshotId)).count() == 3)
    assert(t.scan(asOfTimestampMs = Some(s1.timestampMs)).count() == 3)
    assert(t.scan().count() == 6)
  }

  test("copy-on-write delete rewrites only affected files") {
    val t = mkOrders(tmp())
    t.append(seedDf(seed.take(3)))
    t.append(seedDf(seed.drop(3))) // 2 snapshots -> >= 2 files
    val before = t.liveFiles().filter(_.fileType == "data").map(_.path).toSet
    t.delete("o_orderkey = 1", WriteMode.CopyOnWrite)
    val after = t.liveFiles().filter(_.fileType == "data").map(_.path).toSet
    assert(t.scan().count() == 5)
    // the file(s) holding keys 4..6 must be untouched
    assert(before.intersect(after).nonEmpty, "unaffected files must carry forward")
    assert(t.scan().filter(col("o_orderkey") === 1).count() == 0)
  }

  test("merge-on-read positional delete, then DV delete on the same table") {
    val t = mkOrders(tmp())
    t.append(seedDf(seed))
    t.delete("o_orderkey = 2", WriteMode.MergeOnRead)
    assert(t.scan().count() == 5)
    assert(t.liveFiles().exists(_.fileType == "posdel"))
    t.delete("o_orderkey = 3", WriteMode.DeletionVector)
    assert(t.scan().count() == 4)
    assert(t.liveFiles().exists(_.fileType == "dv"))
    val left = t.scan().select("o_orderkey").collect().map(_.getLong(0)).sorted
    assert(left.sameElements(Array(1L, 4L, 5L, 6L)))
  }

  test("equality delete applies only to rows written before it") {
    import spark.implicits._
    val t = mkOrders(tmp())
    t.append(seedDf(seed))
    t.deleteByKeys(Seq(10L).toDF("o_custkey"))
    assert(t.scan().count() == 4)
    // re-insert a row with the deleted key AFTER the delete: must survive
    t.append(seedDf(Seq((8L, 10L, "O", 800.0))))
    assert(t.scan().filter(col("o_custkey") === 10).count() == 1)
  }

  test("update copy-on-write and merge-on-read") {
    val t1 = mkOrders(tmp())
    t1.append(seedDf(seed))
    t1.update("o_status = 'O'", Map("o_total" -> "o_total * 2"), WriteMode.CopyOnWrite)
    val tot1 = t1.scan().agg(sum("o_total")).collect()(0).getDouble(0)
    assert(tot1 == 100.0 * 2 + 200 + 300 * 2 + 400 + 500 * 2 + 600)

    val t2 = mkOrders(tmp())
    t2.append(seedDf(seed))
    t2.update("o_status = 'O'", Map("o_total" -> "o_total * 2"), WriteMode.MergeOnRead)
    val tot2 = t2.scan().agg(sum("o_total")).collect()(0).getDouble(0)
    assert(tot2 == tot1)
    assert(t2.scan().count() == 6)
  }

  test("merge: matched update + not-matched insert, file-scoped") {
    import spark.implicits._
    val t = mkOrders(tmp())
    t.append(seedDf(seed))
    val src = Seq((1L, 111.0), (9L, 900.0)).toDF("k", "v")
    t.merge(src, on = "t.o_orderkey = s.k",
      matchedSet = Map("o_total" -> "s.v"),
      insertValues = Some(Map(
        "o_orderkey" -> "s.k", "o_custkey" -> "99", "o_status" -> "'N'",
        "o_total" -> "s.v")))
    val m = t.scan().collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(m(1L) == 111.0 && m(9L) == 900.0 && m(2L) == 200.0)
    assert(t.scan().count() == 7)
  }

  test("schema evolution: add/rename/drop/promote + v3 default, no rewrites") {
    val t = mkOrders(tmp())
    t.append(seedDf(seed.take(2)))
    t.addColumn("o_note", "string", initialDefault = Some("'n/a'"))
    t.renameColumn("o_total", "o_amount")
    t.promoteType("o_custkey", "decimal(18,0)") // was bigint
    // old rows get the default + renamed/promoted view, metadata-only
    val rows = t.scan().select("o_orderkey", "o_amount", "o_note").orderBy("o_orderkey").collect()
    assert(rows(0).getString(2) == "n/a")
    assert(rows(0).getDouble(1) == 100.0)
    // new writes carry the new schema; old file count unchanged
    import spark.implicits._
    t.append(Seq((7L, BigDecimal(40), "O", 700.0, "hello"))
      .toDF("o_orderkey", "o_custkey", "o_status", "o_amount", "o_note"))
    assert(t.scan().filter(col("o_note") === "hello").count() == 1)
    t.dropColumn("o_status")
    assert(!t.scan().columns.contains("o_status"))
    // time travel still presents the pre-evolution schema
    val s1 = t.meta.snapshots.head
    assert(t.scan(snapshotId = Some(s1.snapshotId)).columns.contains("o_total"))
  }

  test("hidden partitioning: bucket transform prunes files on equality") {
    val t = mkOrders(tmp(), partitionBy = Seq("bucket(4, o_custkey)"))
    t.append(seedDf(seed))
    val files = t.liveFiles().filter(_.fileType == "data")
    assert(files.size > 1, "expected one file per bucket")
    val pruned = t.prunedFiles("o_custkey = 10")
    assert(pruned.size < files.size, s"pruning must drop buckets (${pruned.size}/${files.size})")
    assert(t.scan(filter = Some("o_custkey = 10")).count() == 2)
  }

  test("min/max stats prune unpartitioned files") {
    val t = mkOrders(tmp())
    t.append(seedDf(seed.take(3)))  // keys 1..3
    t.append(seedDf(seed.drop(3)))  // keys 4..6
    val pruned = t.prunedFiles("o_orderkey >= 5")
    assert(pruned.nonEmpty && pruned.size < t.liveFiles().count(_.fileType == "data"))
  }

  test("partition evolution: new spec applies to new files only") {
    val t = mkOrders(tmp())
    t.append(seedDf(seed.take(3)))
    t.updateSpec(Seq(GraftTable.parseSpecField("identity(o_status)", t.meta.currentSchema)))
    t.append(seedDf(seed.drop(3)))
    val bygSpec = t.liveFiles().filter(_.fileType == "data").groupBy(_.specId)
    assert(bygSpec.keySet == Set(0, 1))
    assert(t.scan().count() == 6)
  }

  test("compaction applies deletes, shrinks files, preserves lineage") {
    val t = mkOrders(tmp())
    t.append(seedDf(seed.take(3)))
    t.append(seedDf(seed.drop(3)))
    t.delete("o_orderkey = 2", WriteMode.MergeOnRead)
    val ridBefore = t.scan(withLineage = true)
      .select("o_orderkey", "_row_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    t.compact()
    val live = t.liveFiles()
    assert(live.count(_.fileType == "data") == 1)
    assert(!live.exists(_.fileType == "posdel"))
    assert(t.scan().count() == 5)
    val ridAfter = t.scan(withLineage = true)
      .select("o_orderkey", "_row_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ridAfter == ridBefore, "row lineage must survive compaction")
  }

  test("small-file compaction merges small files, leaves large ones untouched") {
    val t = mkOrders(tmp())
    (0 until 4).foreach(i => t.append(seedDf(Seq(seed(i))).coalesce(1))) // 4 one-row files
    t.append(seedDf(seed.drop(4) ++ Seq((7L, 40L, "O", 700.0))).coalesce(1)) // one 3-row file
    val before = t.liveFiles().filter(_.fileType == "data")
    assert(before.size >= 5)
    val big = before.maxBy(_.sizeBytes)
    val ridBefore = t.scan(withLineage = true)
      .select("o_orderkey", "_row_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // threshold = the largest file's size: everything smaller rewrites
    t.compactSmallFiles(smallerThanBytes = big.sizeBytes)
    val after = t.liveFiles().filter(_.fileType == "data")
    assert(after.exists(_.path == big.path), "large file must carry forward untouched")
    assert(after.size < before.size, s"expected fewer files: ${before.size} -> ${after.size}")
    assert(t.scan().count() == 7)
    val ridAfter = t.scan(withLineage = true)
      .select("o_orderkey", "_row_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ridAfter == ridBefore, "lineage must survive partial compaction")
  }

  test("expire snapshots deletes orphan files") {
    val t = mkOrders(tmp())
    t.append(seedDf(seed.take(3)))
    t.append(seedDf(seed.drop(3)))
    t.compact()
    val (nSnap, nFiles) = t.expireSnapshots(System.currentTimeMillis() + 1000)
    assert(nSnap == 2 && nFiles > 0)
    assert(t.scan().count() == 6, "current snapshot unaffected")
    // retain_last keeps the N newest regardless of age (Iceberg analog):
    // an aggressive age policy cannot erase all rollback history
    val t2 = mkOrders(tmp())
    t2.append(seedDf(seed.take(2)))
    t2.append(seedDf(seed.slice(2, 4)))
    t2.append(seedDf(seed.drop(4)))
    val (n2, _) = t2.expireSnapshots(System.currentTimeMillis() + 1000, retainLast = 3)
    assert(n2 == 0 && t2.meta.snapshots.size == 3, "retainLast=3 keeps all")
    val (n3, _) = t2.expireSnapshots(System.currentTimeMillis() + 1000, retainLast = 2)
    assert(n3 == 1 && t2.meta.snapshots.size == 2, "retainLast=2 drops the oldest")
    assert(t2.scan().count() == 6)
  }

  test("branches and tags: independent write lineages") {
    val t = mkOrders(tmp())
    t.append(seedDf(seed.take(3)))
    t.createTag("v1")
    t.createBranch("dev")
    t.append(seedDf(seed.drop(3)), branch = "dev")
    assert(t.scan(ref = Some("main")).count() == 3)
    assert(t.scan(ref = Some("dev")).count() == 6)
    assert(t.scan(ref = Some("v1")).count() == 3)
    t.append(seedDf(Seq((8L, 50L, "O", 800.0))))
    assert(t.scan(ref = Some("main")).count() == 4)
    assert(t.scan(ref = Some("dev")).count() == 6)
  }

  test("row lineage: _row_id stable, _last_updated_sequence_number bumps on update") {
    val t = mkOrders(tmp())
    t.append(seedDf(seed))
    val before = t.scan(withLineage = true)
      .select("o_orderkey", "_row_id", "_last_updated_sequence_number").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    t.update("o_orderkey = 1", Map("o_total" -> "1.0"), WriteMode.MergeOnRead)
    val after = t.scan(withLineage = true)
      .select("o_orderkey", "_row_id", "_last_updated_sequence_number").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(after(1L)._1 == before(1L)._1, "row id stable across update")
    assert(after(1L)._2 > before(1L)._2, "sequence bumps for updated row")
    assert(after(2L) == before(2L), "untouched rows unchanged")
  }

  test("catalog: namespaces, create/list/rename/drop") {
    val wh = Scratch.dir("graft-wh").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createNamespace("db1")
    val t = cat.createTable("db1", "orders", "k bigint, v string")
    import spark.implicits._
    t.append(Seq((1L, "a")).toDF("k", "v"))
    assert(cat.listTables("db1") == Seq("orders"))
    assert(cat.loadTable("db1", "orders").scan().count() == 1)
    cat.renameTable("db1", "orders", "orders2")
    assert(cat.listTables("db1") == Seq("orders2"))
    assert(cat.loadTable("db1", "orders2").scan().count() == 1)
    cat.dropTable("db1", "orders2")
    assert(cat.listTables("db1").isEmpty)
    assert(cat.listNamespaces() == Seq("db1"))
  }

  test("cleanStaging removes stale crashed-RTAS dirs, keeps young ones") {
    val wh = Scratch.dir("graft-stg").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createNamespace("db")
    // a "crashed" staging table whose TARGET IS ALIVE (crash before the
    // drop: old table intact, staging is discardable) and the live table
    cat.createTable("db", cat.stagingName("t"), "k bigint")
    val live = cat.createTable("db", "t", "k bigint")
    import spark.implicits._
    live.append(Seq(1L).toDF("k"))
    assert(cat.listTables("db") == Seq("t"), "staging hidden from listings")
    // young staging survives the age guard; stale is removed
    assert(cat.cleanStaging("db", System.currentTimeMillis() - 60000) == ((0, 0)))
    assert(cat.cleanStaging("db", System.currentTimeMillis() + 1000) == ((0, 1)))
    assert(cat.listTables("db") == Seq("t"))
    assert(cat.loadTable("db", "t").scan().count() == 1)
  }

  test("cleanStaging finishes a swap that crashed between drop and rename") {
    val wh = Scratch.dir("graft-stg2").toString
    val cat = new GraftCatalog(spark, wh)
    import spark.implicits._
    // simulate the RTAS crash window: the staging table is FULLY
    // materialized, the old target was already dropped, the rename never
    // ran — the staging dir is the only copy of the data
    val stg = cat.stagingName("orders")
    cat.createTable("db", stg, "k bigint").append(Seq(7L, 8L).toDF("k"))
    assert(cat.listTables("db").isEmpty, "no visible table in the window")
    val (restored, removed) = cat.cleanStaging("db", System.currentTimeMillis() + 1000)
    assert((restored, removed) == ((1, 0)))
    assert(cat.listTables("db") == Seq("orders"))
    assert(cat.loadTable("db", "orders").scan().count() == 2)
    // but a crash mid-materialize (zero snapshots) is NOT restorable even
    // if its target is missing — it must be removed, never renamed in
    cat.createTable("db", cat.stagingName("empty"), "k bigint")
    assert(cat.cleanStaging("db", System.currentTimeMillis() + 1000) == ((0, 1)))
    assert(cat.listTables("db") == Seq("orders"))
  }

  test("optimistic concurrency: stale-base appends rebase, rewrites conflict") {
    val loc = tmp()
    mkOrders(loc).append(seedDf(seed.take(2)))
    // two independent writers load the same table state
    val w1 = GraftTable.load(spark, loc)
    val w2 = GraftTable.load(spark, loc)
    w1.append(seedDf(Seq((7L, 40L, "O", 700.0))))
    // w2's base is now stale; its append must rebase, losing nothing
    w2.append(seedDf(Seq((8L, 50L, "F", 800.0))))
    assert(GraftTable.load(spark, loc).scan().count() == 4)
    // a copy-on-write rewrite from a stale base must refuse, not clobber
    val w3 = GraftTable.load(spark, loc)
    val w4 = GraftTable.load(spark, loc)
    w3.delete("o_orderkey = 1", WriteMode.CopyOnWrite)
    intercept[w4.CommitConflictException] {
      w4.delete("o_orderkey = 2", WriteMode.CopyOnWrite)
    }
    assert(GraftTable.load(spark, loc).scan().count() == 3)
  }

  test("incremental scan returns only rows appended after a snapshot") {
    val t = mkOrders(tmp())
    val s1 = t.append(seedDf(seed.take(2)))
    t.append(seedDf(seed.slice(2, 4)))
    t.append(seedDf(seed.slice(4, 6)))
    val inc = t.scanIncremental(s1.snapshotId)
      .select("o_orderkey").collect().map(_.getLong(0)).sorted
    assert(inc.sameElements(Array(3L, 4L, 5L, 6L)))
    // a row appended then MoR-deleted inside the window does not appear
    t.delete("o_orderkey = 4", WriteMode.MergeOnRead)
    val inc2 = t.scanIncremental(s1.snapshotId)
      .select("o_orderkey").collect().map(_.getLong(0)).sorted
    assert(inc2.sameElements(Array(3L, 5L, 6L)))
    // empty window
    val head = t.meta.snapshots.last
    assert(t.scanIncremental(head.snapshotId).count() == 0)
  }

  test("write.sort clusters files into disjoint ranges for pruning") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "k bigint, v string",
      properties = Map("write.sort" -> "k"))
    // unsorted input, enough rows to spread over several range partitions
    // (AQE would rightly coalesce this micro shuffle to one file — disable
    // it here so the multi-file clustering property is observable)
    val rows = scala.util.Random.shuffle((0L until 400L).toList).map(k => (k, s"v$k"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try t.append(rows.toDF("k", "v"))
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val files = t.liveFiles().filter(_.fileType == "data")
    assert(files.size > 1, "expected multiple range-clustered files")
    // min/max ranges must be pairwise disjoint
    val ranges = files.map(f => (f.stats("1").min.get.toLong, f.stats("1").max.get.toLong))
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) => assert(aMax < bMin, s"overlap: $ranges")
      case _ =>
    }
    val pruned = t.prunedFiles("k = 17")
    assert(pruned.size == 1, s"point query must hit exactly one file, got ${pruned.size}")
  }

  test("analyze writes an NDV statistics file (puffin analog)") {
    val t = mkOrders(tmp())
    t.append(seedDf(seed))
    val ndv = t.analyze()
    assert(ndv("o_orderkey") == 6, s"exactly distinct keys, got $ndv")
    assert(ndv("o_status") == 2)
    assert(t.tableStats().contains(ndv), "stats file round-trips")
    assert(t.tableStats().get.values.sum == ndv.values.sum, "counts read back as Long")
  }

  test("year/month/day/hour + truncate transforms prune on ranges") {
    import spark.implicits._
    val loc = tmp()
    val t = GraftTable.create(spark, loc, "id bigint, ts timestamp, name string",
      partitionBy = Seq("month(ts)"))
    val rows = (0 until 12).map(m =>
      (m.toLong, java.sql.Timestamp.valueOf(f"2024-${m + 1}%02d-15 12:00:00"), s"n$m"))
    t.append(rows.toDF("id", "ts", "name"))
    val all = t.liveFiles().count(_.fileType == "data")
    assert(all >= 12)
    val pruned = t.prunedFiles("ts >= timestamp'2024-11-01 00:00:00'")
    assert(pruned.size <= 2, s"expected <=2 month partitions, got ${pruned.size}")
    assert(t.scan(filter = Some("ts >= timestamp'2024-11-01 00:00:00'")).count() == 2)
  }

  test("streaming tail emits appended rows exactly once per checkpoint") {
    import org.apache.spark.sql.streaming.Trigger
    val loc = tmp()
    val t = mkOrders(loc)
    t.append(seedDf(seed.take(3)))
    val ckpt = Scratch.dir("graft-tail-ck").toString
    // foreachBatch sink: supports restart from the same checkpoint, so the
    // second drain resumes the file-stream offsets and sees only new files
    def drain(outDir: String): Long = {
      val q = t.readStream().writeStream
        .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => {
          b.write.mode("append").parquet(outDir); ()
        })
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      if (Files.exists(java.nio.file.Paths.get(outDir)))
        spark.read.parquet(outDir).count()
      else 0L
    }
    val o1 = Scratch.dir("graft-tail-o1").toString
    val o2 = Scratch.dir("graft-tail-o2").toString
    assert(drain(s"$o1/out") == 3, "first drain sees the initial snapshot")
    t.append(seedDf(seed.drop(3)))
    assert(drain(s"$o2/out") == 3, "second drain sees ONLY the new commit's rows")
  }

  test("z-order clustering prunes on BOTH dimensions; linear sort only on one") {
    import spark.implicits._
    // 64x64 grid in a scrambled physical order (multiplicative permutation)
    val n = 4096
    val rows = (0 until n).map { r =>
      val i = (r * 2654435761L % n).toInt
      ((i % 64).toLong, (i / 64).toLong, s"p$i")
    }
    def build(props: Map[String, String]): GraftTable = {
      val t = GraftTable.create(spark, tmp(), "a bigint, b bigint, payload string",
        properties = props)
      t.append(rows.toDF("a", "b", "payload"))
      t
    }
    val tz = build(Map("write.zorder" -> "a,b", "write.target-partitions" -> "16"))
    val ts = build(Map("write.sort" -> "a", "write.target-partitions" -> "16"))
    val total = tz.liveFiles().count(_.fileType == "data")
    assert(total >= 8, s"need enough files to observe pruning, got $total")
    val za = tz.prunedFiles("a = 7").size
    val zb = tz.prunedFiles("b = 7").size
    assert(za <= total / 2 && zb <= total / 2,
      s"z-order must prune both dims: a→$za/$total b→$zb/$total")
    val sb = ts.prunedFiles("b = 7").size
    assert(sb == ts.liveFiles().count(_.fileType == "data"),
      "linear sort cannot prune the non-leading dimension")
    // clustering must not change the data
    assert(tz.scan(filter = Some("a = 7")).count() == 64)
    assert(tz.scan().count() == n)
  }

  test("write.zorder applies as the within-partition clustering on a partitioned table") {
    import spark.implicits._
    val n = 1024
    val rows = (0 until n).map { r =>
      val i = (r * 2654435761L % n).toInt
      (i % 4, (i % 32).toLong, (i / 32).toLong) // p: partition, a/b: z dims
    }
    val t = GraftTable.create(spark, tmp(), "p int, a bigint, b bigint",
      partitionBy = Seq("p"), properties = Map("write.zorder" -> "a,b"))
    t.append(rows.toDF("p", "a", "b"))
    assert(t.scan().count() == n)
    // physical row order inside every data file must follow the z-value —
    // the property used to be silently ignored when a partition spec was set
    val ids = t.meta.currentSchema
    val (fa, fb) = (s"f${ids.byName("a").id}", s"f${ids.byName("b").id}")
    for (f <- t.liveFiles().filter(_.fileType == "data")) {
      val raw = spark.read.parquet(
        java.nio.file.Paths.get(t.location).resolve(f.path).toString)
      // replicate the WRITE-time scaling (global min/max = 0..31 for both
      // dims) — re-deriving min/max per file would rescale and reorder
      val z = table.ZOrder.interleave(Seq(
        table.ZOrder.scaled(col(fa), 0.0, 31.0),
        table.ZOrder.scaled(col(fb), 0.0, 31.0)))
      val zs = raw.withColumn("_z", z).select("_z").collect().map(_.getLong(0))
      assert(zs.indices.drop(1).forall(i => zs(i - 1) <= zs(i)),
        s"rows in ${f.path} are not z-clustered")
    }
  }

  test("rollback moves the ref, keeps history, and rejects non-ancestors") {
    val t = mkOrders(tmp())
    val s1 = t.append(seedDf(seed.take(3)))
    val s2 = t.append(seedDf(seed.slice(3, 5)))
    t.rollbackTo(s1.snapshotId)
    assert(t.scan().count() == 3)
    // the undone snapshot remains time-travelable
    assert(t.scan(snapshotId = Some(s2.snapshotId)).count() == 5)
    // divergence: append after rollback builds on the restored head
    t.append(seedDf(seed.drop(5)))
    assert(t.scan().count() == 4)
    // s2 is no longer an ancestor of main — rolling "back" to it must fail
    intercept[IllegalArgumentException](t.rollbackTo(s2.snapshotId))
  }

  test("fast-forward publishes a branch; refuses when main diverged") {
    val t = mkOrders(tmp())
    t.append(seedDf(seed.take(2)))
    t.createBranch("audit")
    t.append(seedDf(seed.slice(2, 4)), branch = "audit")
    t.fastForward("main", "audit")
    assert(t.scan().count() == 4)
    // diverge: write to main directly, then a branch write — no longer FF-able
    t.createBranch("audit2")
    t.append(seedDf(seed.slice(4, 5)), branch = "audit2")
    t.append(seedDf(seed.slice(5, 6)))
    intercept[IllegalArgumentException](t.fastForward("main", "audit2"))
  }

  test("changes() classifies inserts, deletes, and updates; mid-window churn squashes") {
    val t = mkOrders(tmp())
    val s1 = t.append(seedDf(seed.take(3))) // keys 1,2,3
    t.append(seedDf(seed.slice(3, 5)))      // +4,5
    t.delete("o_orderkey = 2", WriteMode.MergeOnRead)
    t.update("o_orderkey = 3", Map("o_total" -> "o_total + 5.0"))
    t.delete("o_orderkey = 4")               // inserted then deleted: squashed away
    val ch = t.changes(s1.snapshotId).collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("o_orderkey"))).sorted
    assert(ch.toSeq == Seq(
      ("delete", 2L), ("insert", 5L),
      ("update_after", 3L), ("update_before", 3L)), s"got ${ch.toSeq}")
    // value content: the update pair carries before/after totals
    val upd = t.changes(s1.snapshotId)
      .filter(col("_change_type").startsWith("update"))
      .collect().map(r => r.getAs[String]("_change_type") -> r.getAs[Double]("o_total")).toMap
    assert(upd == Map("update_before" -> 300.0, "update_after" -> 305.0))
    // append-only window takes the manifest fast path and tags commit seq
    val t2 = mkOrders(tmp())
    val a1 = t2.append(seedDf(seed.take(2)))
    val a2 = t2.append(seedDf(seed.slice(2, 4)))
    val fast = t2.changes(a1.snapshotId).collect()
    assert(fast.length == 2 &&
      fast.forall(_.getAs[String]("_change_type") == "insert") &&
      fast.forall(_.getAs[Long]("_commit_seq") == a2.sequenceNumber))
  }

  test("merge raises on ambiguous (multi-source) match instead of duplicating") {
    import spark.implicits._
    val t = mkOrders(tmp())
    t.append(seedDf(seed))
    val src = Seq((1L, 111.0), (1L, 222.0)).toDF("k", "v")
    intercept[IllegalStateException] {
      t.merge(src, on = "t.o_orderkey = s.k", matchedSet = Map("o_total" -> "s.v"))
    }
    assert(t.scan().count() == 6, "failed merge must not change the table")
  }

  test("DV encode rejects positions beyond the dense-bitset range") {
    intercept[IllegalArgumentException] { Dv.encode(Iterator(0L, 1L << 31)) }
    assert(Dv.decode(Dv.encode(Iterator(3L, 1L, 3L))).toSeq == Seq(1L, 3L))
  }

  test("rebased MoR delete conflicts when concurrent compaction replaced files") {
    val loc = tmp()
    val t1 = mkOrders(loc)
    t1.append(seedDf(seed))
    val t2 = GraftTable.load(spark, loc) // stale writer, base = post-append
    t1.compact()
    intercept[CommitConflictException] {
      t2.delete("o_custkey = 10", WriteMode.MergeOnRead)
    }
    assert(GraftTable.load(spark, loc).scan().count() == 6,
      "rejected delete must leave the compacted table intact")
  }

  test("mixed-writer interleavings: MoR deletes, compaction, partition evolution") {
    // The rebase-validation matrix beyond same-op races: every pair below
    // is an interleaving Iceberg documents as either safely-additive or a
    // required conflict. Writers are independent handles on one location,
    // interleaved deterministically (the publish protocol is the same one
    // the threaded 4-appender spec exercises).
    // -- (1) two MoR deletes on different keys: both additive, both apply
    val locA = tmp()
    mkOrders(locA).append(seedDf(seed))
    val a1 = GraftTable.load(spark, locA)
    val a2 = GraftTable.load(spark, locA)
    a1.delete("o_orderkey = 1", WriteMode.MergeOnRead)
    a2.delete("o_orderkey = 2", WriteMode.MergeOnRead) // stale base -> rebases
    assert(GraftTable.load(spark, locA).scan().collect()
      .map(_.getLong(0)).sorted.sameElements(Seq(3L, 4L, 5L, 6L)),
      "both racing MoR deletes must land (no lost delete)")
    // -- (2) compaction from a stale base (a MoR delete landed meanwhile):
    // the rewrite must refuse, and the delete must survive
    val locB = tmp()
    mkOrders(locB).append(seedDf(seed))
    val b1 = GraftTable.load(spark, locB)
    val b2 = GraftTable.load(spark, locB)
    b1.delete("o_orderkey = 3", WriteMode.MergeOnRead)
    intercept[CommitConflictException] { b2.compact() }
    assert(GraftTable.load(spark, locB).scan().count() == 5,
      "refused compaction must leave the MoR delete applied")
    // retry from fresh state succeeds and folds the delete in
    GraftTable.load(spark, locB).compact()
    val bLive = GraftTable.load(spark, locB).liveFiles()
    assert(bLive.forall(_.fileType == "data"), "compaction folded the posdel")
    assert(GraftTable.load(spark, locB).scan().count() == 5)
    // -- (3) partition evolution racing appends: updateSpec re-pins before
    // its CAS (a stale HANDLE is fine; only an interleaved publish between
    // pin and write conflicts — that race is the "concurrent metadata
    // publish" spec). What matters here: appends from a writer still
    // holding the OLD spec land with their own specId (spec-per-file),
    // nothing is lost, and both file generations stay scannable
    val locC = tmp()
    val c0 = mkOrders(locC)
    c0.append(seedDf(seed.take(2)))
    val c1 = GraftTable.load(spark, locC)
    val c2 = GraftTable.load(spark, locC)
    c1.append(seedDf(Seq((7L, 40L, "O", 700.0))))
    c2.updateSpec(Seq(GraftTable.parseSpecField("identity(o_status)",
      c2.meta.currentSchema))) // re-pins: sees c1's append, applies cleanly
    c1.append(seedDf(Seq((8L, 50L, "F", 800.0)))) // stale handle: old spec
    val cT = GraftTable.load(spark, locC)
    assert(cT.scan().count() == 4, "nothing lost across evolution race")
    val specIds = cT.liveFiles().filter(_.fileType == "data").map(_.specId).toSet
    assert(specIds == Set(0), "stale-handle files carry their writer's spec")
    cT.append(seedDf(Seq((9L, 60L, "O", 900.0))))
    val postEvo = cT.liveFiles().filter(_.fileType == "data").map(_.specId).toSet
    assert(postEvo == Set(0, 1), "new-spec files coexist with old-spec files")
    assert(cT.scan(filter = Some("o_orderkey = 9")).count() == 1)
    // -- (4) append racing a MoR delete: delete computed pre-append rebases
    // and must not touch the interleaved append's rows
    val locD = tmp()
    mkOrders(locD).append(seedDf(seed))
    val d1 = GraftTable.load(spark, locD)
    val d2 = GraftTable.load(spark, locD)
    // d2 stages its delete scan against the pre-append state by computing
    // hits now (the delete call re-scans, so interleave the append first)
    d1.append(seedDf(Seq((1L, 99L, "X", 1.0)))) // duplicate key 1, new file
    d2.delete("o_custkey = 10", WriteMode.MergeOnRead) // rebases onto append
    val dRows = GraftTable.load(spark, locD).scan().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!dRows.contains((1L, 10L)) && !dRows.contains((2L, 10L)),
      "rebased delete applies to its target rows")
    assert(dRows.contains((1L, 99L)),
      "rebased delete must not swallow the interleaved append's rows")
  }

  test("stray tmp files from crashed committers never confuse readers") {
    val t = mkOrders(tmp())
    t.append(seedDf(seed))
    // a committer that died between tmp-write and link leaves these behind
    Files.writeString(java.nio.file.Paths.get(t.location,
      "metadata", ".v00099-deadbeef.json.tmp"), "{\"garbage\": true}")
    Files.writeString(java.nio.file.Paths.get(t.location,
      "manifests", ".99-a-dead.jsonl.tmp"), "not json")
    val re = GraftTable.load(spark, t.location)
    assert(re.scan().count() == 6, "stray tmp files must be invisible")
    assert(Meta.currentVersion(t.location).contains(2))
    re.append(seedDf(Seq((7L, 40L, "O", 700.0))))
    assert(re.scan().count() == 7, "commits proceed past stray tmp files")
  }

  test("concurrent metadata publish: loser gets a conflict, not a lost commit") {
    val loc = tmp()
    val t1 = mkOrders(loc)
    t1.append(seedDf(seed))
    val m = Meta.readJson(loc)
    val v = Meta.currentVersion(loc).get
    // two committers that both computed the same next version: the second
    // publish of that version must fail loudly, not replace the first
    Meta.writeJsonAt(m.copy(properties = Map("w" -> "1")), loc, v + 1)
    intercept[CommitConflictException] {
      Meta.writeJsonAt(m.copy(properties = Map("w" -> "2")), loc, v + 1)
    }
    assert(Meta.readJson(loc).properties("w") == "1", "winner's commit survives")
    // the committer's one publish rule, metadata-only: an edit whose pinned
    // version went stale before its write conflicts, and the winner stays
    val stale = GraftTable.load(spark, loc)
    intercept[CommitConflictException] {
      stale.committer.publish { pinned =>
        GraftTable.load(spark, loc).updateProperties(Map("w" -> "3"))
        pinned.copy(properties = pinned.properties + ("w" -> "4"))
      }
    }
    assert(Meta.currentVersion(loc).contains(v + 2))
    assert(Meta.readJson(loc).properties("w") == "3", "winner's edit survives")
    assert(stale.meta.properties.get("w").contains("1"), "the loser adopts nothing")
    // the same rule for a clone onto an empty catalog table: the version
    // pinned by the emptiness check moves before the clone publishes
    val target = tmp()
    mkOrders(target)
    intercept[CommitConflictException] {
      Committer.publishNew(target) {
        GraftTable.load(spark, target).updateProperties(Map("w" -> "winner"))
        Meta.readJson(loc).copy(tableUuid = "clone")
      }
    }
    assert(Meta.currentVersion(target).contains(2))
    val won = Meta.readJson(target)
    assert(won.properties.get("w").contains("winner") && won.snapshots.isEmpty,
      "the commit that landed during the clone stays the head")
  }

  test("orphan cleanup removes unreferenced write dirs, keeps live data") {
    val loc = tmp()
    val t = mkOrders(loc)
    t.append(seedDf(seed))
    // a failed commit's leftovers: a data dir no manifest references
    val stray = java.nio.file.Paths.get(loc, "data", "s99-deadbeef")
    Files.createDirectories(stray)
    Files.writeString(stray.resolve("part-0.parquet"), "not really parquet")
    assert(t.removeOrphanFiles(olderThanMs = 0) == 0,
      "age guard keeps files newer than the horizon")
    val n = t.removeOrphanFiles(olderThanMs = System.currentTimeMillis() + 1000)
    assert(n == 1, s"exactly the stray dir goes, removed $n")
    assert(!Files.exists(stray))
    assert(t.scan().count() == 6, "live data untouched")
  }

  test("countFast answers from manifests without deletes, scans with them") {
    val t = mkOrders(tmp())
    t.append(seedDf(seed))
    assert(t.countFast() == 6)
    t.delete("o_custkey = 10", WriteMode.MergeOnRead)
    assert(t.countFast() == 4, "falls back to a real scan under MoR deletes")
  }

  test("concurrent appenders all land under optimistic retry, nothing lost") {
    val loc = tmp()
    mkOrders(loc).append(seedDf(seed.take(1)))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        try {
          (0 until 3).foreach { j =>
            var done = false
            var tries = 0
            while (!done && tries < 200) {
              tries += 1
              // fresh handle per attempt: a conflicted handle holds
              // unpublished in-memory state
              val t = GraftTable.load(spark, loc)
              try { t.append(seedDf(Seq((100L * i + j, 1L, "X", 1.0)))); done = true }
              catch { case _: CommitConflictException =>
                // backoff with jitter: fixed short sleeps thundering-herd
                // under CPU steal (all writers retry in lockstep and the
                // try budget drains without progress)
                Thread.sleep(math.min(200, 5L * tries) + scala.util.Random.nextInt(20))
              }
            }
            if (!done) throw new IllegalStateException(s"writer $i gave up")
          }
        } catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"writer errors: ${errors.asScala.toList}")
    val t = GraftTable.load(spark, loc)
    assert(t.scan().count() == 1 + 12, "every concurrent append must survive")
    assert(t.meta.snapshots.length == 13, "one snapshot per committed append")
  }

  test("threaded mixed workload: appends, MoR deletes, compactions — serializable outcome") {
    // Beyond same-op appends: three writer ROLES race with retry loops.
    // Invariants that must hold whatever interleaving the scheduler picks:
    // every appended key is visible unless a delete targeted it, deletes
    // never resurface after compaction, and the final state is reachable
    // by SOME serial order (checked via the per-key ledger below).
    val loc = tmp()
    mkOrders(loc).append(seedDf(seed))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def retry(what: String)(op: GraftTable => Unit): Unit = {
      var done = false
      var tries = 0
      while (!done && tries < 200) {
        tries += 1
        val t = GraftTable.load(spark, loc)
        try { op(t); done = true }
        catch { case _: CommitConflictException =>
          Thread.sleep(math.min(200, 5L * tries) + scala.util.Random.nextInt(20))
        }
      }
      if (!done) throw new IllegalStateException(s"$what gave up after $tries tries")
    }
    val appender = new Thread(() => {
      try (0 until 4).foreach { j =>
        retry(s"append$j")(_.append(seedDf(Seq((100L + j, 1L, "A", 1.0)))))
      } catch { case e: Throwable => errors.add(e) }
    })
    val deleter = new Thread(() => {
      try (0 until 3).foreach { j =>
        // deletes target the immutable seed keys, never the appender's
        retry(s"delete$j")(_.delete(s"o_orderkey = ${j + 1}", WriteMode.MergeOnRead))
      } catch { case e: Throwable => errors.add(e) }
    })
    val compactor = new Thread(() => {
      try (0 until 2).foreach { j =>
        retry(s"compact$j")(_.compact())
      } catch { case e: Throwable => errors.add(e) }
    })
    val ts = Seq(appender, deleter, compactor)
    ts.foreach(_.start())
    ts.foreach(_.join(180000))
    assert(errors.isEmpty, s"writer errors: ${errors.asScala.toList}")
    val fin = GraftTable.load(spark, loc)
    val keys = fin.scan().collect().map(_.getLong(0)).sorted
    // seed {1,2,3} deleted; {4,5,6} + the 4 appended keys survive
    assert(keys.sameElements(Seq(4L, 5L, 6L, 100L, 101L, 102L, 103L)),
      s"unexpected final keys: ${keys.mkString(",")}")
    // a fresh compaction folds everything into data-only entries and the
    // deleted rows must NOT resurface (tombstone/compaction ordering held)
    GraftTable.load(spark, loc).compact()
    val after = GraftTable.load(spark, loc)
    assert(after.scan().collect().map(_.getLong(0)).sorted
      .sameElements(Seq(4L, 5L, 6L, 100L, 101L, 102L, 103L)))
    assert(after.liveFiles().forall(_.fileType == "data"))
  }

  test("appendsBetween scans only the delta files; refuses mixed windows") {
    val t = mkOrders(tmp())
    val s1 = t.append(seedDf(Seq((1L, 1L, "A", 10.0), (2L, 1L, "B", 20.0))))
    t.append(seedDf(Seq((3L, 2L, "A", 30.0))))
    t.append(seedDf(Seq((4L, 2L, "C", 40.0))))
    val inc = t.appendsBetween(s1.snapshotId)
    assert(inc.select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L))
    // file-subset pruning: the incremental read plans strictly fewer
    // files than the full scan (this is the whole point at 100 TB)
    val incFiles = plannedFiles(inc)
    val allFiles = plannedFiles(t.scan())
    assert(incFiles.nonEmpty && incFiles.subsetOf(allFiles) && incFiles.size < allFiles.size,
      s"delta must plan a strict file subset: ${incFiles.size} vs ${allFiles.size}")
    // empty window -> empty result, full schema
    val head = t.meta.head("main").get
    val empty = t.appendsBetween(head.snapshotId)
    assert(empty.collect().isEmpty &&
      empty.columns.toSeq == Seq("o_orderkey", "o_custkey", "o_status", "o_total"))
    // a delete on ANOTHER branch must not poison this branch's window
    t.createBranch("other")
    t.delete("o_orderkey = 1", WriteMode.MergeOnRead, branch = "other")
    assert(t.appendsBetween(s1.snapshotId).count() == 2L)
    // a delete on the read lineage invalidates append-only semantics: refuse
    t.delete("o_orderkey = 3", WriteMode.MergeOnRead)
    val err = intercept[IllegalArgumentException](t.appendsBetween(s1.snapshotId))
    assert(err.getMessage.contains("changes()"))
  }

  test("appendsBetween survives in-window compaction; scanIncremental refuses it") {
    val t = mkOrders(tmp())
    val s1 = t.append(seedDf(Seq((1L, 1L, "A", 10.0), (2L, 1L, "B", 20.0))))
    t.append(seedDf(Seq((3L, 2L, "A", 30.0))))
    t.compact(targetMB = 1) // rewrites ALL live data with a new sequence number
    t.append(seedDf(Seq((4L, 2L, "C", 40.0))))
    // the checkpoint consumer must see exactly the appended rows — a
    // files-newer-than-checkpoint implementation would replay rows 1-2
    // out of the compacted file as "new"
    val got = t.appendsBetween(s1.snapshotId)
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(3L, 4L), s"delta must be the appends only, got $got")
    // scanIncremental's deletes-reflected contract cannot survive the
    // re-sequencing; it must refuse loudly, not return a wrong delta
    val err = intercept[IllegalArgumentException](t.scanIncremental(s1.snapshotId))
    assert(err.getMessage.contains("appendsBetween"))
    // expiring the window's snapshots kills the checkpoint: loud error
    t.expireSnapshots(olderThanMs = System.currentTimeMillis() + 1000, retainLast = 1)
    if (!t.meta.snapshots.exists(_.snapshotId == s1.snapshotId)) {
      val gone = intercept[Exception](t.appendsBetween(s1.snapshotId))
      assert(gone.getMessage != null)
    }
  }

  test("scanIncremental refuses in-window CoW delete/update (overwrite re-sequencing)") {
    // a CoW delete commits as "overwrite" and rewrites SURVIVING pre-window
    // rows into new-sequence files — a seq > fromSeq file selection would
    // replay rows 1,2 (minus the deleted one) as "new". Must refuse, not
    // silently corrupt the delta.
    val t = mkOrders(tmp())
    val s1 = t.append(seedDf(Seq((1L, 1L, "A", 10.0), (2L, 1L, "B", 20.0))))
    t.append(seedDf(Seq((3L, 2L, "A", 30.0))))
    t.delete("o_orderkey = 1", WriteMode.CopyOnWrite)
    val err = intercept[IllegalArgumentException](t.scanIncremental(s1.snapshotId))
    assert(err.getMessage.contains("changes()"), err.getMessage)
    // same for a CoW update window
    val t2 = mkOrders(tmp())
    val s2 = t2.append(seedDf(Seq((1L, 1L, "A", 10.0), (2L, 1L, "B", 20.0))))
    t2.update("o_orderkey = 2", Map("o_totalprice" -> "o_totalprice + 1.0"),
      WriteMode.CopyOnWrite)
    val err2 = intercept[IllegalArgumentException](t2.scanIncremental(s2.snapshotId))
    assert(err2.getMessage.contains("overwrite"), err2.getMessage)
    // a pre-window CoW rewrite is fine: only the window is constrained
    val s3 = t2.append(seedDf(Seq((4L, 2L, "C", 40.0))))
    t2.append(seedDf(Seq((5L, 2L, "D", 50.0))))
    val got = t2.scanIncremental(s3.snapshotId)
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(5L), s"post-rewrite append-only window must read, got $got")
  }

  test("scanIncremental refuses summary-less legacy 'delete' snapshots in the window") {
    // pre-summary metadata can't distinguish a harmless MoR delete from a
    // CoW delete (both commit under operation='delete'); assuming MoR
    // would silently replay re-sequenced surviving rows as new, so the
    // summary-less fallback must refuse the ambiguous tag
    val loc = tmp()
    val t = mkOrders(loc)
    val s1 = t.append(seedDf(Seq((1L, 1L, "A", 10.0), (2L, 1L, "B", 20.0))))
    t.delete("o_orderkey = 1", WriteMode.MergeOnRead)
    t.append(seedDf(Seq((3L, 2L, "A", 30.0))))
    // the MoR delete WITH its summary is provably harmless: window reads
    assert(t.scanIncremental(s1.snapshotId)
      .select("o_orderkey").collect().map(_.getLong(0)).toSeq == Seq(3L))
    // strip every snapshot summary (simulate pre-summary persistence)
    val m = graft.table.Meta.readJson(loc)
    graft.table.Meta.writeJsonAt(
      m.copy(snapshots = m.snapshots.map(_.copy(summary = Map.empty))), loc,
      graft.table.Meta.currentVersion(loc).get + 1)
    val err = intercept[IllegalArgumentException](
      graft.table.GraftTable.load(spark, loc).scanIncremental(s1.snapshotId))
    assert(err.getMessage.contains("delete"), err.getMessage)
  }

  test("day/year/month transforms are timezone-independent (UTC semantics)") {
    val tzKey = "spark.sql.session.timeZone"
    val prev = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "America/New_York")
      import spark.implicits._
      // 2024-03-05 01:30 UTC is 2024-03-04 20:30 in New York — a session-tz
      // derivation would bucket it into the previous day
      val us = java.time.Instant.parse("2024-03-05T01:30:00Z").getEpochSecond * 1000000L
      val df = Seq(us).toDF("us").select(timestamp_micros(col("us")).as("f1"))
      // ntz carries the same WALL-CLOCK instant: string→ntz cast is
      // timezone-free, and evalLiteral reads ntz literal micros as wall
      // clock — both paths must bucket identically under any session tz
      val dfNtz = Seq("2024-03-05 01:30:00").toDF("s")
        .select(col("s").cast("timestamp_ntz").as("f1"))
      for (tr <- Seq("day", "month", "year")) {
        val pf = PartFieldMeta("p", tr, List(1))
        val w = df.select(Transforms.column(pf, Seq(col("f1")), Seq("timestamp")))
          .collect()(0).get(0).toString
        val e = Transforms.evalLiteral(pf, Seq(us)).get
        assert(w == e, s"$tr: write-side $w != prune-side $e")
        val wNtz = dfNtz.select(Transforms.column(pf, Seq(col("f1")), Seq("timestamp_ntz")))
          .collect()(0).get(0).toString
        assert(wNtz == e, s"$tr (ntz): write-side $wNtz != prune-side $e")
      }
    } finally spark.conf.set(tzKey, prev)
  }

  test("long string bounds truncate to prunable prefixes instead of dropping") {
    import spark.implicits._
    // values over the 120-char stat cap: pre-truncation these carried NO
    // bounds, so a text-leading filter scanned every file
    def doc(p: String) = p + ("x" * 150)
    val t = GraftTable.create(spark, tmp(), "id bigint, txt string")
    t.append(Seq((1L, doc("aaaa")), (2L, doc("bbbb"))).toDF("id", "txt").coalesce(1))
    t.append(Seq((3L, doc("mmmm")), (4L, doc("nnnn"))).toDF("id", "txt").coalesce(1))
    t.append(Seq((5L, doc("yyyy")), (6L, doc("zzzz"))).toDF("id", "txt").coalesce(1))
    val stats = t.liveFiles().filter(_.fileType == "data").flatMap(_.stats.get("2"))
    assert(stats.size == 3)
    // bounds survive truncation: 16-unit prefix min, incremented max
    assert(stats.forall(s => s.min.nonEmpty && s.max.nonEmpty))
    assert(stats.forall(s => s.min.get.length == 16 && s.max.get.length == 16))
    assert(stats.exists(_.min.get.startsWith("aaaa")))
    assert(stats.exists(_.max.get == "zzzzxxxxxxxxxxxy")) // last unit bumped
    // the truncated bounds PRUNE: each range predicate keeps one file
    assert(t.prunedFiles("txt < 'b'").size == 1)
    assert(t.prunedFiles("txt > 'z'").size == 1)
    assert(t.prunedFiles("txt >= 'm' and txt < 'o'").size == 1)
    // and remain CORRECT (weaker-bound, never false-prune) under scan
    assert(t.scan(filter = Some("txt < 'b'")).count() == 1)
    assert(t.scan(filter = Some("txt > 'z'")).count() == 1)
    // prefix-equal probes at the truncation boundary must keep the file
    assert(t.prunedFiles(s"txt = '${doc("aaaa")}'").size == 1)
  }

  test("truncUpper bumps the rightmost incrementable UTF-16 unit") {
    assert(FooterStats.truncUpper("a" * 150).contains("a" * 15 + "b"))
    // units at MAX_VALUE are skipped right-to-left
    assert(FooterStats.truncUpper("ab" + ("￿" * 140))
      .contains("ac"))
    // no incrementable unit -> no finite bound
    assert(FooterStats.truncUpper("￿" * 150).isEmpty)
  }

  test("shallow clone: zero data bytes, overlays carried, full divergence") {
    def keys(t: GraftTable): Set[Long] =
      t.scan().select("o_orderkey").collect().map(_.getLong(0)).toSet
    def parquetsUnder(loc: String): Seq[String] =
      Files.walk(java.nio.file.Paths.get(loc)).iterator().asScala
        .map(_.toString).filter(_.endsWith(".parquet")).toSeq
    val t = mkOrders(tmp())
    t.append(seedDf(seed))
    t.delete("o_orderkey = 2", WriteMode.MergeOnRead) // live posdel overlay
    t.addColumn("origin", "string", initialDefault = Some("'legacy'"))
    val cloneLoc = tmp()
    val c = t.shallowClone(cloneLoc)
    // the clone commit moved ZERO data bytes: no parquet under its tree
    assert(parquetsUnder(cloneLoc).isEmpty)
    // content identical, including the MoR overlay and the v3 default
    assert(keys(c) == Set(1L, 3L, 4L, 5L, 6L))
    assert(c.scan().select("origin").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("legacy"))
    // divergence, both directions: a clone append stays out of the
    // source; a source MoR delete stays out of the clone
    c.append(seedDf(Seq((7L, 40L, "O", 700.0)))
      .withColumn("origin", lit("new")))
    t.delete("o_orderkey = 3", WriteMode.MergeOnRead)
    assert(keys(c) == Set(1L, 3L, 4L, 5L, 6L, 7L))
    assert(keys(t) == Set(1L, 4L, 5L, 6L))
    // the clone's own append wrote under ITS tree, not the source's
    assert(parquetsUnder(cloneLoc).nonEmpty)
    // a post-clone MoR delete in the clone addresses CLONED files (its
    // posdel rows carry the absolute source paths) without touching them
    c.delete("o_custkey = 30", WriteMode.MergeOnRead)
    assert(keys(c) == Set(1L, 3L, 4L, 7L))
    assert(keys(t) == Set(1L, 4L, 5L, 6L))
    // refusal: target already a table
    intercept[IllegalArgumentException] { t.shallowClone(cloneLoc) }
  }

  test("merge ON contract: unqualified column references refused up front, by name") {
    val t = mkOrders(tmp())
    t.append(seedDf(seed))
    val src = seedDf(Seq((1L, 10L, "O", 111.0)))
    // the matched-set design carries target columns by their t.-qualification;
    // an unqualified ref would fail deep in the insert anti-join — instead
    // the contract is validated before any job runs, naming the attribute
    val e = intercept[IllegalArgumentException] {
      t.merge(src, on = "o_orderkey = s.o_orderkey",
        matchedSet = Map("o_total" -> "s.o_total"))
    }
    assert(e.getMessage.contains("o_orderkey"))
    assert(e.getMessage.contains("t.") && e.getMessage.contains("s."))
    // a foreign qualifier is refused the same way
    val e2 = intercept[IllegalArgumentException] {
      t.merge(src, on = "t.o_orderkey = x.o_orderkey")
    }
    assert(e2.getMessage.contains("x.o_orderkey"))
    // nothing committed by either refusal
    assert(t.scan().count() == 6)
  }

  test("shallow clone retention lease: source expiry + orphan sweep never break the clone") {
    def keys(tt: GraftTable): Set[Long] =
      tt.scan().select("o_orderkey").collect().map(_.getLong(0)).toSet
    val future = System.currentTimeMillis() + 600000L
    val t = mkOrders(tmp())
    // one data file, so the divergence rewrite below orphans the WHOLE
    // pre-clone file set (first-level dirs are the orphan-sweep unit)
    t.append(seedDf(seed).coalesce(1))
    t.delete("o_orderkey = 2", WriteMode.MergeOnRead) // live overlay at clone time
    val cloneLoc = tmp()
    val c = t.shallowClone(cloneLoc)
    val expected = Set(1L, 3L, 4L, 5L, 6L)
    assert(keys(c) == expected)
    // the lease landed in the SOURCE's registry before the clone published
    val leaseDir = java.nio.file.Paths.get(t.location, "metadata", "clones")
    assert(Files.isDirectory(leaseDir) && Files.list(leaseDir).count() == 1)
    // source diverges with a CoW delete (rewrites the cloned-from files),
    // then runs ROUTINE maintenance with an everything-is-old cutoff —
    // the exact sequence that silently corrupted clones when the caveat
    // was prose: expiry drops the old snapshots, and without the lease
    // the physical delete would take the clone's data files with them
    t.delete("o_orderkey = 3", WriteMode.CopyOnWrite)
    val (nExpired, _) = t.expireSnapshots(olderThanMs = future, retainLast = 1)
    assert(nExpired >= 1, "expiry should have dropped pre-divergence snapshots")
    t.removeOrphanFiles(olderThanMs = future)
    // source is right AND the clone still reads its full pre-divergence
    // content — the leased files survived both GC passes
    assert(keys(t) == Set(1L, 4L, 5L, 6L))
    assert(keys(c) == expected)
    // dropping the clone releases the lease: the next sweep physically
    // removes the now-unreferenced files and clears the registry entry.
    // A metadata-less lease younger than the grace period is treated as
    // an IN-FLIGHT clone (see the interleave spec below), so age the
    // lease file past the bound the way a real dropped clone's would be.
    Files.walk(java.nio.file.Paths.get(cloneLoc))
      .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .iterator().asScala.foreach(Files.deleteIfExists(_))
    val leaseFile = Files.list(leaseDir).iterator().asScala.toList.head
    Files.setLastModifiedTime(leaseFile, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 11L * 60 * 1000))
    val removed = t.removeOrphanFiles(olderThanMs = future)
    assert(removed > 0, "dropped clone should release its lease for GC")
    assert(Files.list(leaseDir).count() == 0)
    assert(keys(t) == Set(1L, 4L, 5L, 6L)) // source untouched throughout
  }

  test("clone lease interleave: source GC inside the registration→publish window") {
    // shallowClone registers its lease BEFORE publishing clone metadata.
    // A source GC (another process — multi-process access is supported)
    // running inside that window sees a lease with no readable clone
    // metadata: exactly what a crashed clone leaves behind. It must NOT
    // self-release the young lease, and must NOT physically delete any
    // file the about-to-publish clone references — only a lease older
    // than the grace bound is released.
    val future = System.currentTimeMillis() + 600000L
    val t = mkOrders(tmp())
    t.append(seedDf(seed).coalesce(1))
    def dataFiles(): Set[String] =
      Files.walk(java.nio.file.Paths.get(t.location, "data")).iterator().asScala
        .map(_.toString).filter(_.endsWith(".parquet")).toSet
    val preCloneFiles = dataFiles() // the files the in-flight clone references
    // the in-flight window, frozen: lease registered, metadata not yet there
    val cloneLoc = tmp()
    val leaseDir = java.nio.file.Paths.get(t.location, "metadata", "clones")
    Files.createDirectories(leaseDir)
    val leaseFile = leaseDir.resolve("0f1e2d3c-in-flight.lease")
    Files.write(leaseFile, cloneLoc.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    // source diverges (CoW rewrites the cloned-from file) then runs BOTH
    // GC passes with an everything-is-old cutoff — the pre-guard code
    // released the lease here and swept the pre-divergence files
    t.delete("o_orderkey = 3", WriteMode.CopyOnWrite)
    t.expireSnapshots(olderThanMs = future, retainLast = 1)
    t.removeOrphanFiles(olderThanMs = future)
    assert(Files.exists(leaseFile),
      "young in-flight lease must survive a source GC pass")
    assert(preCloneFiles.subsetOf(dataFiles()),
      "GC deleted files the in-flight clone references")
    // once the lease ages past the grace bound with still no metadata
    // (the crashed-clone case), the next pass releases it and GC resumes
    Files.setLastModifiedTime(leaseFile, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 11L * 60 * 1000))
    assert(t.removeOrphanFiles(olderThanMs = future) > 0,
      "aged metadata-less lease must release and unblock the sweep")
    assert(!Files.exists(leaseFile))
    // the source's own live content was never at risk
    assert(t.scan().select("o_orderkey").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 4L, 5L, 6L))
  }

  test("clone lease roots: table under an ancestor directory named data") {
    // the lease root is derived from KNOWN table locations, not from the
    // first /data/ substring of each entry path — a table at
    // .../data/warehouse/t1 stores files at .../data/warehouse/t1/data/f
    // and its lease must land under t1, where t1's GC looks, not under
    // the warehouse ancestor where no GC ever runs
    def keys(tt: GraftTable): Set[Long] =
      tt.scan().select("o_orderkey").collect().map(_.getLong(0)).toSet
    val base = Scratch.dir("graft-spec").toString
    val t = mkOrders(s"$base/data/warehouse/t1")
    t.append(seedDf(seed).coalesce(1))
    val c = t.shallowClone(s"$base/data/warehouse/t2")
    val rightDir = java.nio.file.Paths.get(t.location, "metadata", "clones")
    assert(Files.isDirectory(rightDir) &&
      Files.list(rightDir).count() == 1,
      "lease must register under the table root")
    assert(!Files.exists(java.nio.file.Paths.get(base, "metadata")),
      "no lease may land under the ancestor data directory's parent")
    // and the GC at the RIGHT root honors it: the pre-divergence files
    // survive, the clone keeps reading
    val future = System.currentTimeMillis() + 600000L
    t.delete("o_orderkey = 3", WriteMode.CopyOnWrite)
    t.expireSnapshots(olderThanMs = future, retainLast = 1)
    t.removeOrphanFiles(olderThanMs = future)
    assert(keys(c) == Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(keys(t) == Set(1L, 2L, 4L, 5L, 6L))
  }

  test("merge ON accepts lambda-bound variables in higher-order predicates") {
    // exists(t.arr, x -> x = s.col) parses x as a ONE-part
    // UnresolvedAttribute until ResolveLambdaVariables runs — the ON
    // qualification contract must exempt lambda parameters, not reject
    // a valid predicate
    val t = mkOrders(tmp())
    t.append(seedDf(seed))
    val src = seedDf(Seq((1L, 10L, "O", 111.0)))
    t.merge(src, on = "exists(array(t.o_orderkey), x -> x = s.o_orderkey)",
      matchedSet = Map("o_total" -> "s.o_total"))
    assert(t.scan().filter(col("o_orderkey") === 1L)
      .select("o_total").head().getDouble(0) == 111.0)
    // a genuinely unqualified column INSIDE the lambda body is still
    // refused by name — only the bound parameter is exempt
    val e = intercept[IllegalArgumentException] {
      t.merge(src, on = "exists(array(t.o_orderkey), x -> x = o_custkey)")
    }
    assert(e.getMessage.contains("o_custkey"))
  }

  test("merge ON accepts struct-field access on a bound lambda parameter") {
    // exists(t.items, x -> x.sku = s.sku) parses x.sku as a MULTI-part
    // UnresolvedNamedLambdaVariable([x, sku]); ResolveLambdaVariables
    // resolves it by HEAD-name lookup + ExtractValue folding, so the ON
    // validation must exempt any lambda variable whose head is bound,
    // regardless of arity — requiring one-part names rejected this
    // valid shape
    val t = mkOrders(tmp())
    t.append(seedDf(seed))
    val src = seedDf(Seq((1L, 10L, "O", 111.0)))
    t.merge(src,
      on = "exists(array(named_struct('k', t.o_orderkey)), x -> x.k = s.o_orderkey)",
      matchedSet = Map("o_total" -> "s.o_total"))
    assert(t.scan().filter(col("o_orderkey") === 1L)
      .select("o_total").head().getDouble(0) == 111.0)
    // an UNBOUND multi-part name inside the lambda body is still a
    // column reference, refused unless qualified t./s.
    val e = intercept[IllegalArgumentException] {
      t.merge(src,
        on = "exists(array(named_struct('k', t.o_orderkey)), x -> x.k = u.o_orderkey)")
    }
    assert(e.getMessage.contains("u.o_orderkey"))
  }

  test("clone lease interleave: pre-created EMPTY catalog-table target") {
    // shallowClone supports a target that is a freshly-created empty
    // catalog table: metadata EXISTS, snapshots are empty until the clone
    // publishes. Inside that registration→publish window a source GC sees
    // a lease whose clone metadata reads fine but enumerates zero
    // snapshots — it must treat that exactly like the metadata-less
    // in-flight shape (skip physical deletes while young, release once
    // aged), not compute an empty retained set and sweep
    val future = System.currentTimeMillis() + 600000L
    val t = mkOrders(tmp())
    t.append(seedDf(seed).coalesce(1))
    def dataFiles(): Set[String] =
      Files.walk(java.nio.file.Paths.get(t.location, "data")).iterator().asScala
        .map(_.toString).filter(_.endsWith(".parquet")).toSet
    val preCloneFiles = dataFiles()
    // the frozen window: empty catalog table created at the target,
    // lease registered, clone snapshot NOT yet published
    val cloneLoc = tmp()
    mkOrders(cloneLoc) // metadata exists, zero snapshots
    val leaseDir = java.nio.file.Paths.get(t.location, "metadata", "clones")
    Files.createDirectories(leaseDir)
    val leaseFile = leaseDir.resolve("0f1e2d3c-empty-target.lease")
    Files.write(leaseFile, cloneLoc.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    t.delete("o_orderkey = 3", WriteMode.CopyOnWrite)
    t.expireSnapshots(olderThanMs = future, retainLast = 1)
    t.removeOrphanFiles(olderThanMs = future)
    assert(Files.exists(leaseFile),
      "young zero-snapshot lease must survive a source GC pass")
    assert(preCloneFiles.subsetOf(dataFiles()),
      "GC deleted files the about-to-publish clone references")
    // aged with still no snapshots → crashed/abandoned clone, released
    Files.setLastModifiedTime(leaseFile, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 11L * 60 * 1000))
    assert(t.removeOrphanFiles(olderThanMs = future) > 0,
      "aged zero-snapshot lease must release and unblock the sweep")
    assert(!Files.exists(leaseFile))
    assert(t.scan().select("o_orderkey").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 4L, 5L, 6L))
  }

  test("CHECK constraints: inline enforcement, SQL null semantics, lifecycle") {
    val t = mkOrders(tmp())
    t.append(seedDf(seed))
    // ADD validates existing data: refused while a violating row lives
    intercept[ConstraintViolationException] {
      t.addConstraint("small", "o_total < 500.0")
    }
    t.addConstraint("positive", "o_total > 0.0")
    val snapsBefore = t.meta.snapshots.size
    // a poisoned batch is refused ATOMICALLY — nothing from it lands
    intercept[ConstraintViolationException] {
      t.append(seedDf(Seq((7L, 40L, "O", 700.0), (8L, 40L, "X", -1.0))))
    }
    assert(t.meta.snapshots.size == snapsBefore)
    assert(t.scan().count() == 6)
    // standard SQL CHECK: a NULL predicate PASSES
    import spark.implicits._
    t.append(Seq((9L, Option.empty[Long], "O", Option.empty[Double]))
      .toDF("o_orderkey", "o_custkey", "o_status", "o_total"))
    assert(t.scan().count() == 7)
    // update into violation refused (CoW and MoR paths share the guard)
    intercept[ConstraintViolationException] {
      t.update("o_orderkey = 1", Map("o_total" -> "-5.0"))
    }
    intercept[ConstraintViolationException] {
      t.update("o_orderkey = 1", Map("o_total" -> "-5.0"), WriteMode.MergeOnRead)
    }
    // merge-insert violation refused
    intercept[ConstraintViolationException] {
      t.merge(seedDf(Seq((10L, 50L, "O", -3.0))), "t.o_orderkey = s.o_orderkey",
        insertValues = Some(Map("o_orderkey" -> "s.o_orderkey",
          "o_custkey" -> "s.o_custkey", "o_status" -> "s.o_status",
          "o_total" -> "s.o_total")))
    }
    // constraints survive reload through metadata; DROP re-allows
    val t2 = GraftTable.load(spark, t.location)
    intercept[ConstraintViolationException] {
      t2.append(seedDf(Seq((11L, 60L, "O", -2.0))))
    }
    t2.dropConstraint("positive")
    t2.append(seedDf(Seq((11L, 60L, "O", -2.0))))
    assert(t2.scan().count() == 8)
  }
}
