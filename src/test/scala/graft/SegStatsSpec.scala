package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.table._

/** Round-14 per-segment partition summaries (VERDICT r13 item 5): a
  * partition-scoped commit must never OPEN a manifest segment proven
  * disjoint from its touched partitions — the 1000x-files headroom item
  * past the documented ~30 MB/100 TB manifest budget (Meta.scala layout
  * note). Pins the pure summary/skip rules, the end-to-end read-log
  * proof on a real overwritePartitions, overlay conservatism, and
  * additive back-compat (stats-less snapshots read exactly as before). */
class SegStatsSpec extends SparkSpec {

  private def loc(): String =
    Files.createTempDirectory("graft-segstats").toString

  private def part(d: String) = Map("ts_day" -> d)

  private def dataEntry(p: Map[String, String], path: String = "d.parquet") =
    FileMeta(path, "data", 0, 0, p, 1, 1, 1, Map.empty)

  test("segStats: bounded all-data segments are complete; overlays or overflow are not") {
    val a = dataEntry(part("1"), "a"); val b = dataEntry(part("2"), "b")
    assert(Meta.segStats(Seq(a, b)) ==
      SegStats(List(part("1"), part("2")), complete = true))
    // duplicate tuples collapse
    assert(Meta.segStats(Seq(a, a)).partitions == List(part("1")))
    // any non-data entry (posdel/dv/eqdel applies by path or keys, not
    // partition) poisons completeness — the segment must always be read
    val dv = FileMeta("v.parquet", "dv", 0, 0, Map.empty, 1, 1, 2,
      Map.empty, appliesTo = Some("a"))
    assert(!Meta.segStats(Seq(a, dv)).complete)
    // tuple-count overflow -> incomplete (bounded metadata growth)
    val many = (0 to Meta.SegStatsCap).map(i => dataEntry(part(i.toString), s"f$i"))
    assert(!Meta.segStats(many).complete)
    // empty segment: nothing provable
    assert(!Meta.segStats(Nil).complete)
  }

  test("segmentSkippable: only an affirmative disjointness proof skips") {
    val touched = Set(part("5"))
    val disjoint = Some(SegStats(List(part("1"), part("2")), complete = true))
    val hit = Some(SegStats(List(part("2"), part("5")), complete = true))
    val incomplete = Some(SegStats(Nil, complete = false))
    assert(Meta.segmentSkippable(disjoint, touched))
    assert(!Meta.segmentSkippable(hit, touched))
    assert(!Meta.segmentSkippable(incomplete, touched))
    // absent stats (pre-round-14 snapshot): unprunable
    assert(!Meta.segmentSkippable(None, touched))
    // an unpartitioned entry ({} tuple) never equals a nonempty touched
    // tuple — exact map equality, the unpruned path's own rule
    assert(Meta.segmentSkippable(
      Some(SegStats(List(Map.empty[String, String]), complete = true)), touched))
  }

  test("overwritePartitions never opens segments disjoint from the touched day") {
    import spark.implicits._
    val t = GraftTable.create(spark, loc(),
      "id bigint, ts timestamp, v double", partitionBy = Seq("day(ts)"))
    // two appends -> two all-data segments with disjoint day tuples
    t.append(Seq((1L, "2024-01-01 10:00:00", 1.0), (2L, "2024-01-01 11:00:00", 2.0))
      .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp")))
    t.append(Seq((3L, "2024-02-01 10:00:00", 3.0))
      .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp")))
    val head1 = t.meta.head("main").get
    assert(head1.manifests.size == 2)
    assert(head1.manifests.forall(s =>
      head1.manifestStats.get(s).exists(_.complete)),
      s"append segments must carry complete stats: ${head1.manifestStats}")
    // patch ONLY February; January's segment must never be opened
    val patch = Seq((30L, "2024-02-01 12:00:00", 30.0))
      .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    Meta.readLog.clear()
    Meta.recordReads = true
    try t.overwritePartitions(patch)
    finally Meta.recordReads = false
    val reads = Meta.readLog.asScala.toSet
    val head2 = t.meta.head("main").get
    // the commit's own added segment carries the touched (February)
    // tuple in its stats — use it to identify the disjoint January
    // segment without re-deriving the partition encoding
    val newSegs = head2.manifests.filterNot(head1.manifests.contains)
    assert(newSegs.size == 1, s"expected one added segment: $newSegs")
    val touchedTuples = head2.manifestStats(newSegs.head).partitions.toSet
    val disjointSegs = head1.manifests.filter(s =>
      Meta.segmentSkippable(head1.manifestStats.get(s), touchedTuples))
    assert(disjointSegs.size == 1, s"expected one disjoint segment: $disjointSegs")
    assert(!disjointSegs.exists(reads),
      s"disjoint segment was opened during the commit: $reads")
    // and the commit is still CORRECT: January intact, February replaced
    val rows = t.scan().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(rows == Seq((1L, 1.0), (2L, 2.0), (30L, 30.0)), s"got $rows")
    // the skipped segment is still referenced, stats carried forward
    assert(disjointSegs.forall(head2.manifests.contains),
      "skipped segment must be carried by reference")
    assert(disjointSegs.forall(s => head2.manifestStats.contains(s)),
      "carried segment must keep its stats")
  }

  test("overlay segments are always opened and their deletes survive the swap") {
    import spark.implicits._
    val t = GraftTable.create(spark, loc(),
      "id bigint, ts timestamp, v double", partitionBy = Seq("day(ts)"))
    t.append(Seq((1L, "2024-01-01 10:00:00", 1.0), (2L, "2024-01-01 11:00:00", 2.0),
      (3L, "2024-02-01 10:00:00", 3.0))
      .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp")))
    // MoR delete on a January row -> posdel overlay entry
    t.delete("id = 2", WriteMode.MergeOnRead)
    val head = t.meta.head("main").get
    val overlaySegs = head.manifests.filter(s =>
      Meta.readManifest(t.location, s).exists(_.fileType != "data"))
    assert(overlaySegs.nonEmpty)
    assert(overlaySegs.forall(s => !head.manifestStats.get(s).exists(_.complete)),
      "a segment carrying an overlay must be incomplete (unprunable)")
    val patch = Seq((30L, "2024-02-01 12:00:00", 30.0))
      .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    Meta.readLog.clear()
    Meta.recordReads = true
    try t.overwritePartitions(patch)
    finally Meta.recordReads = false
    assert(overlaySegs.forall(Meta.readLog.asScala.toSet),
      "overlay segments must be read during a partition-scoped commit")
    // January's delete still applies; February swapped
    val rows = t.scan().orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(1L, 30L), s"got $rows")
  }

  test("back-compat: a snapshot without stats reads everything, exactly as before") {
    val snapNoStats = SnapshotMeta(1L, None, 1L, 0L, "append", 0,
      List("manifests/x.jsonl"))
    assert(snapNoStats.manifestStats.isEmpty)
    // readEntriesTouching degrades to readEntries: the one segment is read
    val l = loc()
    Files.createDirectories(java.nio.file.Paths.get(l, "manifests"))
    Meta.writeManifest(l, "x", Seq(dataEntry(part("1"))))
    val got = Meta.readEntriesTouching(l, snapNoStats, Set(part("99")))
    assert(got.size == 1)
  }

  test("coalesce shards by partition; pruning survives rewriteManifests") {
    import spark.implicits._
    // shard-entries=2 makes sharding observable on a tiny table; the
    // production default (4096-entry shards, ~48 max) is the same code
    val t = GraftTable.create(spark, loc(),
      "id bigint, ts timestamp, v double", partitionBy = Seq("day(ts)"),
      properties = Map("write.manifest.shard-entries" -> "2"))
    def add(id: Long, day: String): Unit =
      t.append(Seq((id, s"$day 10:0$id:00", id.toDouble))
        .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp")))
    add(1, "2024-01-01"); add(2, "2024-01-01")
    add(3, "2024-02-01"); add(4, "2024-03-01")
    t.delete("id = 4", WriteMode.MergeOnRead) // live overlay on March
    t.rewriteManifests()
    val head = t.meta.head("main").get
    // 4 data entries in 2-entry shards + the overlay segment
    assert(head.manifests.size == 3, s"got ${head.manifests}")
    val (complete, incomplete) = head.manifests.partition(s =>
      head.manifestStats.get(s).exists(_.complete))
    assert(complete.size == 2 && incomplete.size == 1,
      s"stats: ${head.manifestStats}")
    // sharding is partition-contiguous: January's two files share a shard
    val janShard = complete.filter(s =>
      head.manifestStats(s).partitions.size == 1)
    assert(janShard.size == 1, s"expected one single-tuple (Jan) shard: " +
      s"${head.manifestStats}")
    // a January-scoped overwrite must read the Jan shard + the overlay
    // segment, never the Feb/Mar data shard — pruning ALIVE post-rewrite
    val patch = Seq((10L, "2024-01-01 12:00:00", 10.0))
      .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    Meta.readLog.clear()
    Meta.recordReads = true
    try t.overwritePartitions(patch)
    finally Meta.recordReads = false
    val reads = Meta.readLog.asScala.toSet
    val febMarShard = (complete.toSet - janShard.head).head
    assert(!reads(febMarShard),
      s"Feb/Mar shard was opened during a Jan-scoped commit: $reads")
    assert(reads(incomplete.head), "overlay segment must always be read")
    // correctness across the whole dance: Jan replaced, Feb intact,
    // March's MoR delete still applied
    val rows = t.scan().orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(3L, 10L), s"got $rows")
  }

  test("property: a skippable segment can never contain a touched entry or an overlay") {
    // the soundness invariant the whole feature stands on: for ARBITRARY
    // entry mixes and touched sets, segStats + segmentSkippable may keep
    // a disjoint segment (costs time) but must NEVER skip a segment
    // holding an entry a partition-scoped commit would remove (data with
    // partition in touched) or must inspect (any overlay). A drift
    // between the two functions would silently leave removed partitions
    // live — this pins them against each other, not against examples.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genTuple: Gen[Map[String, String]] = Gen.oneOf(
      (0 to 6).map(i => Map("d" -> i.toString)) ++
        Seq(Map.empty[String, String], Map("d" -> "1", "b" -> "0")))
    val genEntry: Gen[FileMeta] = for {
      p <- genTuple
      ft <- Gen.frequency(8 -> Gen.const("data"),
        1 -> Gen.oneOf("posdel", "dv", "eqdel"))
    } yield FileMeta("f", ft, 0, 0, p, 1, 1, 1, Map.empty)
    val genSeg: Gen[List[FileMeta]] = Gen.listOf(genEntry)
    val genTouched: Gen[Set[Map[String, String]]] =
      Gen.listOf(genTuple).map(_.toSet)
    val prop = Prop.forAll(genSeg, genTouched) { (seg, touched) =>
      val skip = Meta.segmentSkippable(Some(Meta.segStats(seg)), touched)
      !skip || seg.forall(e =>
        e.fileType == "data" && !touched.contains(e.partition))
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
    assert(res.passed, res.status.toString)
  }

  test("round 15: a commit with no removals reads ZERO parent segments") {
    // appends / eq-deletes cannot dirty any parent segment, so commit()
    // must not open one — append-class manifest I/O is O(added), zero
    // parent reads, independent of table size (the 100k-file shape)
    import spark.implicits._
    val t = GraftTable.create(spark, loc(),
      "id bigint, ts timestamp, v double", partitionBy = Seq("day(ts)"))
    def df(id: Long, day: String) = Seq((id, s"$day 10:00:00", id.toDouble))
      .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    t.append(df(1, "2024-01-01")); t.append(df(2, "2024-02-01"))
    Meta.readLog.clear()
    Meta.recordReads = true
    try t.append(df(3, "2024-03-01"))
    finally Meta.recordReads = false
    assert(Meta.readLog.isEmpty,
      s"append commit opened parent segments: ${Meta.readLog.asScala.toSet}")
    // eq-delete: pure overlay add, same zero-read property (no scan runs)
    Meta.readLog.clear()
    Meta.recordReads = true
    try t.deleteByKeys(Seq(2L).toDF("id"))
    finally Meta.recordReads = false
    assert(Meta.readLog.isEmpty,
      s"eq-delete commit opened parent segments: ${Meta.readLog.asScala.toSet}")
    val head = t.meta.head("main").get
    assert(head.manifests.size == 4, s"got ${head.manifests}")
    assert(t.scan().collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
  }

  test("round 15: a file-scoped CoW update commit skips shards disjoint from its touched partitions") {
    // VERDICT r14 item 5 (SURVEY §20.1 residual): CoW row-ops know their
    // affected files; their partition tuples come from the manifest
    // entries the row-resolving scan planned, so commit() prunes like
    // overwritePartitions does
    import spark.implicits._
    val t = GraftTable.create(spark, loc(),
      "id bigint, ts timestamp, v double", partitionBy = Seq("day(ts)"),
      properties = Map("write.manifest.shard-entries" -> "2"))
    def add(id: Long, day: String): Unit =
      t.append(Seq((id, s"$day 10:0$id:00", id.toDouble))
        .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp")))
    add(1, "2024-01-01"); add(2, "2024-01-01")
    add(3, "2024-02-01"); add(4, "2024-03-01")
    t.rewriteManifests()
    val head = t.meta.head("main").get
    assert(head.manifests.size == 2, s"got ${head.manifests}")
    val janShard = head.manifests.filter(s =>
      head.manifestStats(s).partitions.size == 1)
    assert(janShard.size == 1, s"expected one single-tuple (Jan) shard: " +
      s"${head.manifestStats}")
    val febMarShard = (head.manifests.toSet -- janShard).head
    Meta.readLog.clear()
    Meta.recordReads = true
    try t.update("id = 3", Map("v" -> "30.0"))
    finally Meta.recordReads = false
    val reads = Meta.readLog.asScala.toSeq
    def countOf(s: String) = reads.count(_ == s)
    // the op's row-resolving scan reads every segment alike (the rewrite
    // reuses its plan); only the COMMIT is partition-scoped — it opens
    // the Feb/Mar shard (it holds the removed file) exactly once more
    // than the Jan shard, which it must never open
    assert(countOf(febMarShard) == countOf(janShard.head) + 1,
      s"commit read counts drifted: jan=${countOf(janShard.head)} " +
        s"febmar=${countOf(febMarShard)} reads=$reads")
    val rows = t.scan().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(rows == Seq((1L, 1.0), (2L, 2.0), (3L, 30.0), (4L, 4.0)), s"got $rows")
  }

  test("round 15: touched-partition parse round-trips escaped partition values") {
    // the commit's touched tuples must equal the committed partitions
    // exactly — pin it on values Spark %xx-escapes in directory names
    // (percent, colon, equals) plus a space
    import spark.implicits._
    val t = GraftTable.create(spark, loc(),
      "id bigint, cat string, v double", partitionBy = Seq("cat"))
    def df(id: Long, cat: String) = Seq((id, cat, id.toDouble)).toDF("id", "cat", "v")
    t.append(df(1, "a b").union(df(2, "a b")))
    t.append(df(3, "p%q:r=s"))
    val head = t.meta.head("main").get
    assert(head.manifests.size == 2)
    val weird = head.manifests.find(s =>
      head.manifestStats(s).partitions == List(Map("cat" -> "p%q:r=s"))).get
    val plain = (head.manifests.toSet - weird).head
    // CoW delete inside the 'a b' partition: commit must read the plain
    // shard (holds the removed file) once more than the weird shard
    Meta.readLog.clear()
    Meta.recordReads = true
    try t.delete("id = 1")
    finally Meta.recordReads = false
    val reads = Meta.readLog.asScala.toSeq
    assert(reads.count(_ == plain) == reads.count(_ == weird) + 1,
      s"escaped-tuple commit read counts drifted: $reads")
    // and the same on the escaped partition itself — the touched tuple
    // must be exactly {cat -> p%q:r=s} or the removal would be silently
    // skipped
    val head2 = t.meta.head("main").get
    val weird2 = head2.manifests.find(s =>
      head2.manifestStats.get(s).exists(_.partitions ==
        List(Map("cat" -> "p%q:r=s")))).get
    Meta.readLog.clear()
    Meta.recordReads = true
    try t.delete("id = 3")
    finally Meta.recordReads = false
    assert(Meta.readLog.asScala.toSeq.contains(weird2),
      "commit must open the escaped partition's own segment")
    val rows = t.scan().orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(2L), s"got $rows")
  }

  test("a CoW delete on a shallow clone never opens the shard disjoint from its partition") {
    // a clone's entries carry absolute paths into the source table: the
    // commit scopes itself by the removed entries' manifest partitions,
    // as the row-resolving scan planned them, so the clone's shards prune
    // exactly like a native table's
    import spark.implicits._
    val src = GraftTable.create(spark, loc(),
      "id bigint, ts timestamp, v double", partitionBy = Seq("day(ts)"),
      properties = Map("write.manifest.shard-entries" -> "2"))
    def add(id: Long, day: String): Unit =
      src.append(Seq((id, s"$day 10:0$id:00", id.toDouble))
        .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp")))
    add(1, "2024-01-01"); add(2, "2024-01-01")
    add(3, "2024-02-01"); add(4, "2024-03-01")
    val t = src.shallowClone(
      Files.createTempDirectory("graft-segstats-clone").resolve("c").toString)
    t.rewriteManifests()
    val head = t.meta.head("main").get
    assert(head.manifests.size == 2, s"got ${head.manifests}")
    val janShard = head.manifests.filter(s =>
      head.manifestStats(s).partitions.size == 1)
    assert(janShard.size == 1, s"expected one single-tuple (Jan) shard: " +
      s"${head.manifestStats}")
    val febMarShard = (head.manifests.toSet -- janShard).head
    Meta.readLog.clear()
    Meta.recordReads = true
    try t.delete("ts < timestamp'2024-01-02 00:00:00' AND id = 1")
    finally Meta.recordReads = false
    val reads = Meta.readLog.asScala.toSeq
    assert(!reads.contains(febMarShard),
      s"the Feb/Mar shard was opened by a Jan-scoped clone delete: $reads")
    assert(reads.contains(janShard.head), s"the Jan shard must be read: $reads")
    assert(t.scan().orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(2L, 3L, 4L))
    assert(src.scan().count() == 4, "the source table must be untouched")
  }

  test("round 15: stats backfill — extwriter append, then the first reading native commit re-seeds pruning") {
    // VERDICT r14 item 7: external-writer snapshots are stats-less by
    // additive design, so the FIRST native partition-scoped commit reads
    // the full manifest plane — but it must record stats for the clean
    // segments it was forced to read, so the SECOND one prunes again
    import spark.implicits._
    val l = loc()
    val t = GraftTable.create(spark, l,
      "id bigint, cat string", partitionBy = Seq("cat"))
    def df(id: Long, cat: String) = Seq((id, cat)).toDF("id", "cat")
    t.append(df(1, "a"))
    t.append(df(2, "b"))
    // external append into partition c (identity layout supported)
    val payload = """{"rows":[{"id":7,"cat":"c"}]}"""
    val f = Files.createTempFile("segstats-ext", ".json")
    Files.writeString(f, payload)
    import scala.sys.process._
    val rc = Process(Seq("python3", graft.ops.Interop.extWriterScript,
      l, f.toString)).!
    assert(rc == 0, s"external append failed rc=$rc")
    val t2 = GraftTable.load(spark, l)
    val extHead = t2.meta.head("main").get
    assert(extHead.manifestStats.isEmpty,
      s"extwriter snapshots must be stats-less: ${extHead.manifestStats}")
    assert(extHead.manifests.size == 3)
    // native commit #1: nothing is prunable (no stats) — every parent
    // segment reads, and the CLEAN ones (a, c) get backfilled summaries
    Meta.readLog.clear()
    Meta.recordReads = true
    try t2.overwritePartitions(df(20, "b"))
    finally Meta.recordReads = false
    assert(extHead.manifests.forall(Meta.readLog.asScala.toSet),
      s"stats-less plane must be fully read: ${Meta.readLog.asScala.toSet}")
    val head1 = t2.meta.head("main").get
    val carried = head1.manifests.filter(extHead.manifests.contains)
    assert(carried.size == 2, s"a and c segments must carry: $carried")
    assert(carried.forall(s => head1.manifestStats.get(s).exists(_.complete)),
      s"read clean segments must be backfilled: ${head1.manifestStats}")
    // native commit #2: the backfilled a/c segments are now provably
    // disjoint from b — neither is opened
    Meta.readLog.clear()
    Meta.recordReads = true
    try t2.overwritePartitions(df(21, "b"))
    finally Meta.recordReads = false
    val reads2 = Meta.readLog.asScala.toSet
    assert(carried.forall(s => !reads2(s)),
      s"backfilled segments must prune on the second commit: $reads2")
    // correctness across the dance: a and the external c intact, b at v21
    val rows = t2.scan().orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(1L, 7L, 21L), s"got $rows")
  }

  test("round 15: pre-round-14 (stripped-stats) snapshots regain pruning the same way") {
    import spark.implicits._
    val t = GraftTable.create(spark, loc(),
      "id bigint, cat string", partitionBy = Seq("cat"))
    def df(id: Long, cat: String) = Seq((id, cat)).toDF("id", "cat")
    t.append(df(1, "a")); t.append(df(2, "b"))
    // simulate a pre-round-14 writer: strip every snapshot's stats
    val v = Meta.currentVersion(t.location).get
    val m = Meta.readJson(t.location)
    Meta.writeJsonAt(m.copy(snapshots =
      m.snapshots.map(_.copy(manifestStats = Map.empty))), t.location, v + 1)
    val t2 = GraftTable.load(spark, t.location)
    val aSeg = t2.meta.head("main").get.manifests.head
    t2.overwritePartitions(df(20, "b")) // reads all, backfills a
    val head1 = t2.meta.head("main").get
    assert(head1.manifestStats.get(aSeg).exists(_.complete),
      s"stripped segment must be backfilled: ${head1.manifestStats}")
    Meta.readLog.clear()
    Meta.recordReads = true
    try t2.overwritePartitions(df(21, "b"))
    finally Meta.recordReads = false
    assert(!Meta.readLog.asScala.toSet(aSeg),
      "backfilled segment must prune on the next commit")
    assert(t2.scan().orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 21L))
  }

  test("round 15: scan planning never opens segments the filter provably excludes") {
    import spark.implicits._
    val t = GraftTable.create(spark, loc(),
      "id bigint, cat string, v double", partitionBy = Seq("cat"))
    def df(id: Long, cat: String) = Seq((id, cat, id.toDouble)).toDF("id", "cat", "v")
    t.append(df(1, "a")); t.append(df(2, "b")); t.append(df(3, "c"))
    val head = t.meta.head("main").get
    def segOf(cat: String) = head.manifests.find(s =>
      head.manifestStats(s).partitions == List(Map("cat" -> cat))).get
    Meta.readLog.clear()
    Meta.recordReads = true
    val rows =
      try t.scan(filter = Some("cat = 'b'")).collect().map(_.getLong(0)).toSeq
      finally Meta.recordReads = false
    assert(rows == Seq(2L), s"got $rows")
    val reads = Meta.readLog.asScala.toSet
    assert(reads == Set(segOf("b")),
      s"scan planning must open ONLY the matching shard: $reads")
    // IN-list touches two shards; range on a non-partition column skips
    // nothing (no tuple proof possible)
    Meta.readLog.clear()
    Meta.recordReads = true
    val rows2 =
      try t.scan(filter = Some("cat in ('a','c')")).collect()
        .map(_.getLong(0)).sorted.toSeq
      finally Meta.recordReads = false
    assert(rows2 == Seq(1L, 3L))
    assert(Meta.readLog.asScala.toSet == Set(segOf("a"), segOf("c")))
    Meta.readLog.clear()
    Meta.recordReads = true
    val rows3 =
      try t.scan(filter = Some("id >= 2")).collect().map(_.getLong(0)).sorted.toSeq
      finally Meta.recordReads = false
    assert(rows3 == Seq(2L, 3L))
    assert(Meta.readLog.asScala.toSet == head.manifests.toSet,
      "a non-partition predicate proves nothing — every segment reads")
    // overlay segments always load: MoR-delete b, re-filter
    t.delete("id = 2", WriteMode.MergeOnRead)
    val head2 = t.meta.head("main").get
    val rows4 = t.scan(filter = Some("cat = 'b'")).collect()
    assert(rows4.isEmpty, s"MoR delete must apply under the pruned plan: " +
      s"${rows4.mkString(",")} (head ${head2.manifests})")
  }

  test("round 15 property: a scan-skippable segment holds no entry the per-entry filter keeps") {
    // the planned file set must be IDENTICAL with and without segment
    // skipping: if segmentScanSkippable says skip, every entry in the
    // segment fails fileMatches — for arbitrary tuples, stats, schemas,
    // and predicate shapes (the stats-conservative direction matters:
    // a synthetic stats-less probe must never out-prune a real entry)
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val schema = SchemaMeta(0, List(
      FieldMeta(1, "id", "bigint", nullable = true),
      FieldMeta(2, "cat", "string", nullable = true)))
    val specs = List(
      PartSpecMeta(0, List(PartFieldMeta("cat", "identity", List(2)))),
      PartSpecMeta(1, Nil))
    val m = TableMeta(3, "u", 2, 0, 1, 0L, 0L, 0L, 0, 0,
      List(schema), specs, Nil, Map.empty, Map.empty)
    val genCat = Gen.oneOf("a", "b", "c", "d")
    val genEntry: Gen[FileMeta] = for {
      c <- genCat
      sp <- Gen.oneOf(0, 1)
      lo <- Gen.choose(0L, 50L)
      hi <- Gen.choose(lo, 100L)
      withStats <- Gen.oneOf(true, false)
    } yield FileMeta("f", "data", sp, 0,
      if (sp == 0) Map("cat" -> c) else Map.empty, 1, 1, 1,
      if (withStats) Map("1" -> ColStats(Some(lo.toString), Some(hi.toString), 0L),
        "2" -> ColStats(Some(c), Some(c), 0L)) else Map.empty)
    val genSeg = Gen.nonEmptyListOf(genEntry)
    val genPred: Gen[Pruning.Pred] = Gen.oneOf(
      genCat.map(c => Pruning.Pred("cat", "=", Seq(org.apache.spark.unsafe.types.UTF8String.fromString(c)))),
      Gen.listOfN(2, genCat).map(cs =>
        Pruning.Pred("cat", "in", cs.map(org.apache.spark.unsafe.types.UTF8String.fromString))),
      Gen.choose(0L, 100L).map(v => Pruning.Pred("id", ">=", Seq(v))),
      Gen.choose(0L, 100L).map(v => Pruning.Pred("id", "=", Seq(v))))
    val prop = Prop.forAll(genSeg, Gen.listOf(genPred)) { (seg, preds) =>
      val skip = Pruning.segmentScanSkippable(m, Some(Meta.segStats(seg)), preds)
      !skip || seg.forall(e => !Pruning.fileMatches(e, m, preds))
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, res.status.toString)
  }

  test("metadata json round-trips the stats (and coalesce recomputes them)") {
    import spark.implicits._
    val t = GraftTable.create(spark, loc(),
      "id bigint, ts timestamp, v double", partitionBy = Seq("day(ts)"))
    t.append(Seq((1L, "2024-01-01 10:00:00", 1.0))
      .toDF("id", "ts", "v").withColumn("ts", col("ts").cast("timestamp")))
    // reload from disk: json4s round-trip of the nested stats map
    val r = GraftTable.load(spark, t.location)
    val head = r.meta.head("main").get
    assert(head.manifestStats.nonEmpty &&
      head.manifestStats.values.forall(_.complete))
    // rewriteManifests coalesces into one segment with fresh stats
    r.rewriteManifests()
    val head2 = r.meta.head("main").get
    assert(head2.manifests.size == 1)
    assert(head2.manifestStats.get(head2.manifests.head).exists(_.complete))
  }
}
