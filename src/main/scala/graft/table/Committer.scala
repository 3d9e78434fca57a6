package graft.table

import java.util.UUID

import graft.table.TableScan.entryPath

/** The committer of a table handle (Iceberg's `SnapshotProducer`): it
  * owns the handle's commit base and publishes every new table state by
  * one rule — pin metadata version v, build from what v holds, write
  * v + 1 create-new, adopt. An interleaved publication is a
  * [[CommitConflictException]], never a lost update. */
private[graft] final class Committer(location: String, deletes: DeleteReader) {
  private var base: TableMeta = Meta.readJson(location)
  /** The commit base: the last state this handle read or published. */
  def meta: TableMeta = base
  def refresh(): TableMeta = { base = Meta.readJson(location); base }

  private def pinned(): (TableMeta, Int) = {
    val v = Meta.currentVersion(location)
      .getOrElse(throw new IllegalArgumentException(s"not a graft table: $location"))
    (Meta.readJsonVersion(location, v), v)
  }

  /** A metadata-only commit: `edit` applies to the PINNED state, so two
    * racing edits compose or conflict, never drop one another. An edit
    * that returns its input publishes nothing. */
  def publish(edit: TableMeta => TableMeta): TableMeta = {
    val (m, v) = pinned()
    val next = edit(m)
    base = if (next eq m) m else Committer.publishAt(location, v, next)
    base
  }

  /** The snapshot id and sequence number the next commit will take. */
  def nextIds(): (Long, Long) = (base.lastSnapshotId + 1, base.lastSequenceNumber + 1)

  /** Optimistic-concurrency commit: if another writer advanced the table
    * since this operation started, additive commits (appends, MoR delete
    * files — nothing physically stamped with a sequence number and nothing
    * removed) REBASE onto the new head; rewrites and physically-stamped
    * commits throw [[CommitConflictException]] for the caller to retry.
    * The new metadata publishes at exactly the validated version + 1
    * (create-new), so a commit that raced past validation still conflicts
    * at publication instead of overwriting the other writer's state. */
  def commit(op: String, branch: String, added: Seq[FileMeta],
      removedPaths: Set[String], snapId0: Long, seq0: Long,
      rebaseable: Boolean = false,
      coalesceSegments: Boolean = false,
      // partition-scoped commits pass their touched tuples: parent
      // segments PROVEN disjoint (SnapshotMeta.manifestStats) are then
      // carried by reference without being read — the commit's manifest
      // I/O becomes O(touched partitions), not O(table files)
      touched: Option[Set[Map[String, String]]] = None): SnapshotMeta = {
    val (m, vBase) = pinned()
    // Same head snapshot: base the commit on the PINNED state, not the
    // handle's cached meta — metadata-only commits (partition-spec or
    // schema evolution, refs, properties) bump the version WITHOUT
    // adding a snapshot, and publishing from the cached meta would
    // silently roll them back. The entries keep their own
    // schemaId/specId (spec-per-file), so files written under the older
    // layout stay correct.
    val (snapId, seq, entries) = if (m.lastSnapshotId == base.lastSnapshotId)
      (snapId0, seq0, added)
    else {
      if (!rebaseable || removedPaths.nonEmpty)
        throw new CommitConflictException(
          s"table advanced to snapshot ${m.lastSnapshotId} (base was " +
            s"${base.lastSnapshotId}) and '$op' is not rebaseable — retry")
      // both rebase checks below read the fresh head once
      lazy val freshHead = Meta.headEntries(location, m, branch)
      // Iceberg validateDataFilesExist analog: a rebased DELETE-file commit
      // (posdel/dv positions, eqdel sequence comparisons) is only valid if
      // every data file of its commit base survived the concurrent commits.
      // If a compaction/CoW rewrite replaced files, the delete would target
      // paths (or sequence numbers) that no longer exist and silently
      // delete nothing — the deleted rows would resurface.
      if (added.exists(_.fileType != "data")) {
        def dataPaths(es: Seq[FileMeta]) = es.filter(_.fileType == "data").map(_.path).toSet
        val missing = dataPaths(Meta.headEntries(location, base, branch)) -- dataPaths(freshHead)
        if (missing.nonEmpty)
          throw new CommitConflictException(
            s"cannot rebase '$op': ${missing.size} data file(s) of its " +
              "commit base were rewritten or removed concurrently — retry")
      }
      // add_files validated "not already registered" against its OWN
      // base; a rebase adopts a head it never validated, so re-check
      // against the fresh entries — otherwise two writers (or one racing
      // a concurrent add_files of the same path) double-register a file
      // and silently double-count its rows, the exact hazard the
      // pre-commit check exists to prevent.
      if (op == "add-files") {
        val live = freshHead.map(e => entryPath(location, e.path)).toSet
        val dups = added.map(e => entryPath(location, e.path)).filter(live)
        if (dups.nonEmpty) throw new CommitConflictException(
          s"cannot rebase 'add-files': already registered concurrently: " +
            dups.take(3).mkString(", ") +
            (if (dups.size > 3) s" (+${dups.size - 3} more)" else ""))
      }
      val seq = m.lastSequenceNumber + 1
      (m.lastSnapshotId + 1, seq, added.map(e => e.copy(sequenceNumber = seq)))
    }
    base = m
    val parent = m.head(branch)
    var rid = m.lastRowId
    val withRid = entries.map { e =>
      if (e.fileType == "data" && e.firstRowId < 0) {
        val out = e.copy(firstRowId = rid); rid += e.rowCount; out
      } else e
    }
    // Segmented manifests: carry the parent's untouched segments BY
    // REFERENCE, rewrite only segments that lost an entry, and put the
    // added files in one fresh segment — commit metadata writes are
    // O(change), not O(table). Segment names carry a uuid: two racing
    // committers can compute the same snapshot id, and the loser of the
    // version-file race must not have clobbered the winner's segments.
    val parentStats = parent.map(_.manifestStats).getOrElse(Map.empty)
    val parentSegNames = parent.map(_.manifests).getOrElse(Nil)
    // a segment proven disjoint from the touched partitions cannot hold
    // a removed entry (removed data is partition-matched; overlays live
    // in incomplete segments, which are never skippable — SegStatsSpec
    // pins both directions), so it is carried by reference UNREAD.
    // A commit that removes NOTHING (append, MoR delete file, eq-delete)
    // cannot dirty any parent segment at all, so it reads NONE of them:
    // append-class manifest I/O is O(added), zero parent reads,
    // independent of table size (round 15; SegStatsSpec pins zero-read).
    val (skipped, readable) =
      if (removedPaths.isEmpty) (parentSegNames, Nil)
      else parentSegNames.partition(seg =>
        touched.exists(t => Meta.segmentSkippable(parentStats.get(seg), t)))
    val parentSegs = readable.map(seg => seg -> Meta.readManifest(location, seg))
    // a position or DV entry whose targets all lie among the data files
    // this commit removes goes with them (remove-dangling-deletes).
    // Overlays live in incomplete segments, which are always read, so
    // every such entry is in hand; above the decode bound they stay.
    val inHand = parentSegs.flatMap(_._2)
    val (gone, kept) = inHand.partition(e => removedPaths(entryPath(location, e.path)))
    val dangling = if (!gone.exists(_.fileType == "data")) Set.empty[String]
      else deletes.dangling(m, inHand.filter(_.fileType == "data"), kept, removedPaths)
    val goneNow = removedPaths ++ dangling
    val isRemoved = (e: FileMeta) => goneNow(entryPath(location, e.path))
    val uuid = UUID.randomUUID.toString.take(8)
    val (dirty, clean) = parentSegs.partition(_._2.exists(isRemoved))
    val keptNames = (skipped ++ clean.map(_._1)).toSet
    val newStats = scala.collection.mutable.Map[String, SegStats]()
    // Backfill (round 15): a clean parent segment this commit was forced
    // to read but that carries no stats — written below a pre-round-14
    // snapshot, or by the external writer, whose snapshots are stats-less
    // by additive design (FORMAT.md §Round-14) — gets a fresh summary for
    // free while its entries are in hand, so the NEXT partition-scoped
    // commit can prune it again instead of re-reading the full plane.
    clean.foreach { case (seg, es) =>
      if (!parentStats.contains(seg)) newStats(seg) = Meta.segStats(es)
    }
    var segs = parentSegNames.filter(keptNames) // parent order preserved
    val survivors = dirty.flatMap(_._2).filterNot(isRemoved)
    if (survivors.nonEmpty) {
      val rSeg = Meta.writeManifest(location, s"$snapId-r-$uuid", survivors)
      newStats(rSeg) = Meta.segStats(survivors)
      segs = segs :+ rSeg
    }
    if (withRid.nonEmpty) {
      val aSeg = Meta.writeManifest(location, s"$snapId-a-$uuid", withRid)
      newStats(aSeg) = Meta.segStats(withRid)
      segs = segs :+ aSeg
    }
    // bound the per-read segment fan-in: past 64 segments, coalesce into
    // partition-clustered SHARDS (amortized O(table/64) per commit)
    if (coalesceSegments || segs.size > 64) {
      // coalescing folds EVERY surviving entry, so skipped segments are
      // read after all (rare path: fan-in bound hit, or explicit rewrite)
      val all = skipped.flatMap(Meta.readManifest(location, _)) ++
        clean.flatMap(_._2) ++ survivors ++ withRid
      newStats.clear()
      segs = writeCoalesced(all, snapId, uuid, m, newStats)
    }
    // stats travel with the snapshot: kept segments carry theirs forward
    // (absent = unprunable, the pre-round-14 reading), new segments get
    // fresh summaries; keys are restricted to the final segment list
    val segSet = segs.toSet
    val statsMap = (parentStats ++ newStats)
      .filter { case (k, _) => segSet(k) }
    val removedEntries = dirty.flatMap(_._2).filter(isRemoved)
    val summary = Map(
      "added-data-files" -> withRid.count(_.fileType == "data").toString,
      "added-delete-files" -> withRid.count(_.fileType != "data").toString,
      "added-records" -> withRid.filter(_.fileType == "data")
        .map(_.rowCount).sum.toString,
      "removed-files" -> removedEntries.size.toString,
      "removed-records" -> removedEntries.filter(_.fileType == "data")
        .map(_.rowCount).sum.toString)
    val snap = SnapshotMeta(snapId, parent.map(_.snapshotId), seq,
      System.currentTimeMillis(), op, m.currentSchemaId, segs.toList, summary,
      statsMap.toMap)
    // publish BEFORE adopting: a conflicted handle must keep published state
    base = Committer.publishAt(location, vBase, m.copy(
      lastSnapshotId = snapId, lastSequenceNumber = seq, lastRowId = rid,
      snapshots = m.snapshots :+ snap,
      refs = m.refs + (branch -> RefMeta(snapId, isBranch = true))))
    snap
  }

  /** Coalesce into partition-clustered SHARDS, not one monolith: a
    * single mixed segment is incomplete under [[Meta.segStats]] (it
    * carries overlays) and covers every partition — so on the far side
    * of the 64-segment fan-in bound, where a large table PERMANENTLY
    * lives, partition-scoped commits would be back to reading the whole
    * manifest plane. Overlays go to their own segment (incomplete by
    * construction, always read); data sorts by (spec, partition, path)
    * and chunks into contiguous-partition-range shards whose stats stay
    * complete. Shard size adapts so the output stays well under the
    * fan-in bound (~48 shards max; `write.manifest.shard-entries`
    * overrides, floor 4096 by default at ~300 B/entry ≈ 1.2 MB/shard).
    * Tables beyond ~48 x SegStatsCap distinct partitions get incomplete
    * (unprunable) shards rather than unbounded stats — documented
    * bound, not a correctness edge. */
  private def writeCoalesced(all: Seq[FileMeta], snapId: Long, uuid: String,
      m: TableMeta,
      stats: scala.collection.mutable.Map[String, SegStats]): List[String] = {
    val (overlays, data) = all.partition(_.fileType != "data")
    // deterministic clustering: data entries sorted by partition spec +
    // partition values, so a shard groups files of the same partition
    // together — pruning reads become sequential runs
    val sorted = data.sortBy(e => (e.specId,
      e.partition.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("/"), e.path))
    val shardSize = m.properties.get("write.manifest.shard-entries")
      .flatMap(_.toIntOption).filter(_ > 0)
      .getOrElse(math.max(4096, (sorted.size + 47) / 48))
    val segs = scala.collection.mutable.ListBuffer[String]()
    sorted.grouped(shardSize).zipWithIndex.foreach { case (sh, i) =>
      val rel = Meta.writeManifest(location, s"$snapId-c$i-$uuid", sh)
      stats(rel) = Meta.segStats(sh)
      segs += rel
    }
    if (overlays.nonEmpty) {
      val rel = Meta.writeManifest(location, s"$snapId-co-$uuid", overlays)
      stats(rel) = Meta.segStats(overlays)
      segs += rel
    }
    if (segs.isEmpty) // empty table: keep one (empty) segment for shape
      segs += Meta.writeManifest(location, s"$snapId-c0-$uuid", Nil)
    segs.toList
  }
}

private[graft] object Committer {
  /** The one publish rule: `next` becomes version `pinned` + 1, create-new. */
  private def publishAt(location: String, pinned: Int, next: TableMeta): TableMeta = {
    Meta.writeJsonAt(next, location, pinned + 1)
    next
  }

  /** Publish the first state of a table (a create, or a clone onto a
    * fresh directory or an empty catalog table): the version found here
    * must hold no snapshot and is pinned while `build` runs, so a commit
    * that lands meanwhile makes this publish conflict. */
  def publishNew(location: String)(build: => TableMeta): TableMeta = {
    val v = Meta.currentVersion(location)
    v.foreach(n => require(Meta.readJsonVersion(location, n).snapshots.isEmpty,
      s"table exists at $location — a clone target must have no snapshots"))
    publishAt(location, v.getOrElse(0), build)
  }
}
