package graft.table

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.table.TableScan.entryPath

/** The change-read unit, mixed into [[GraftTable]]: [[changes]] (lineage
  * CDC), [[appendsBetween]] (strict append window) and [[scanIncremental]]
  * (delta by sequence number), each over one resolved [[window]]. */
trait TableChanges {
  def spark: SparkSession
  def location: String
  protected def scans: TableScan
  protected def deletes: DeleteReader

  /** A change read's window: the freshest state, `from` and the end (`to`,
    * or main's head). An unknown or expired id is a loud error. */
  private def window(fromId: Long, toId: Option[Long]): (TableMeta, SnapshotMeta, SnapshotMeta) = {
    val m = Meta.readJson(location)
    val from = m.snapshot(fromId)
    val to = toId.map(m.snapshot).orElse(m.head("main"))
      .getOrElse(throw new IllegalStateException("empty table"))
    (m, from, to)
  }

  /** Strict append-only incremental scan (the Iceberg incremental APPEND
    * scan contract): [[scanIncremental]]'s manifest-pruned delta read,
    * plus a guard that every snapshot in the window is an append —
    * windows containing deletes/updates/replaces are REFUSED rather than
    * silently returning appends that later operations may have
    * retracted; those consumers need [[changes]]'s CDC classification.
    * This is the consumer-checkpoint read: a downstream job remembers
    * the last snapshot it processed and reads only the delta (delta
    * cost, not table cost — only the window's files are ever planned).
    * Needs no row lineage, so it works on v1/v2 tables too.
    *
    * Semantics (the Iceberg incremental-append-scan contract):
    *  - the window is `to`'s ANCESTOR CHAIN back to `from` (a delete
    *    committed to a different branch in the same sequence range does
    *    not poison this branch's window); `from` must be an ancestor,
    *    and an expired window snapshot is a loud error, never a silent
    *    partial answer;
    *  - row-CHANGING snapshots (overwrite/delete) in the window are
    *    refused — those consumers need [[changes]]'s CDC classification;
    *  - contents-PRESERVING maintenance (compaction, delete-file /
    *    manifest rewrites) is tolerated: the delta is assembled from
    *    each append snapshot's OWN added files (still referenced by that
    *    snapshot's manifests even after a later compaction rewrote
    *    them), so routine table maintenance never breaks checkpoint
    *    consumers — the production property a naive "files newer than
    *    the checkpoint" implementation silently lacks (it would replay
    *    the whole compacted table as new rows). */
  def appendsBetween(fromSnapshotId: Long, toSnapshotId: Option[Long] = None): DataFrame = {
    val (m, _, toSnap) = window(fromSnapshotId, toSnapshotId)
    // ordered walk to -> from (exclusive of from)
    val chain = m.ancestry(toSnap.snapshotId).takeWhile(_.snapshotId != fromSnapshotId)
    val reachedFrom = toSnap.snapshotId == fromSnapshotId ||
      chain.lastOption.exists(_.parentId.contains(fromSnapshotId))
    require(reachedFrom,
      s"snapshot $fromSnapshotId is not a live ancestor of ${toSnap.snapshotId} " +
        "(different branch, or the window was expired) — no linear append window exists")
    val rowChanging = chain.filterNot(s =>
      Set("append", "add-files", "replace", "rewrite-deletes", "rewrite-manifests")(s.operation))
      .map(_.operation).distinct
    require(rowChanging.isEmpty,
      s"appendsBetween window contains row-changing operations (${rowChanging.mkString(", ")}); use changes()")
    val names = m.schema(toSnap.schemaId).fields.map(_.name)
    val empty = scans.emptyDf(m.schema(toSnap.schemaId), lineage = false, pos = false)
    chain.reverse.filter(s => Set("append", "add-files")(s.operation))
      .map(s => scans.planScan(m, s, toSnap.schemaId, Nil)
        .keep(_.sequenceNumber == s.sequenceNumber))
      .filter(_.data.nonEmpty)
      .map(scans.scanSnapshot(_, None, withLineage = false, withPos = false))
      .reduceOption(_ unionByName _).getOrElse(empty)
      .select(names.map(col): _*)
  }

  /** CDC changelog between two snapshots, driven by v3 row lineage:
    * `_row_id` is stable across rewrites and `_last_updated_sequence_number`
    * bumps exactly when a row's content changes, so a full-outer join on
    * the row id classifies every change — insert / delete /
    * update_before+update_after — regardless of HOW it was written (CoW
    * rewrite, MoR delete file, DV, compaction). Mid-window churn squashes
    * to the net change, matching changelog semantics. An append-only
    * window skips the join entirely and reads just the new data files off
    * the manifest (cost = the delta, the steady-state CDC path at scale).
    * Output: table columns + `_change_type` + `_commit_seq` (null for
    * deletes — the removing commit does not stamp removed rows). */
  def changes(fromSnapshotId: Long, toSnapshotId: Option[Long] = None): DataFrame =
    changesImpl(fromSnapshotId, toSnapshotId, scoped = true)

  /** Full state-diff changelog — the oracle: scans BOTH snapshots whole
    * and full-outer-joins on `_row_id`. Correct with no provenance
    * assumptions, at table cost; ChangesScopeSpec pins [[changes]]
    * against it on random op sequences. */
  private[graft] def changesStateDiff(fromSnapshotId: Long,
      toSnapshotId: Option[Long] = None): DataFrame =
    changesImpl(fromSnapshotId, toSnapshotId, scoped = false)

  /** Test observability: the (before, after) file subsets the last scoped
    * [[changes]] call planned — None after the append-only fast path or
    * an explicit [[changesStateDiff]] call. */
  private[graft] var lastChangesScope: Option[(Set[String], Set[String])] = None

  /** File-level scoping for a row-changing CDC window: the
    * effective row set can differ between the window endpoints only via
    *  (a) data files live at `from` but not at `to` (removed in-window),
    *  (b) data files live at `to` but not at `from` (added in-window),
    *  (c) surviving data files whose delete-overlay set changed in-window
    *      (a posdel/DV added, replaced, or dropped that targets them),
    *  (d) surviving data files whose column STATS admit a key of an
    *      equality delete that changed in-window.
    * before-side = (a) ∪ (c) ∪ (d), after-side = (b) ∪ (c) ∪ (d); every
    * other file is byte-identical with an identical overlay set at both
    * ends and cannot contribute a change row. posdel/DV targets come from
    * the driver decoder — O(delete files in the window), never O(table),
    * and no Spark job; above the decode bound (c) is every survivor.
    * Equality deletes have value-scoped targets with no file_path list,
    * so (d) bounds them by manifest stats instead: a survivor excluded by
    * [[Pruning.fileMatches]] under the per-column key bounds cannot hold
    * a row any deleted tuple matches. File sequence number deliberately
    * does NOT narrow (d) — a compaction-written file carries rows with
    * older `_last_seq` than its own seq, and those rows an eq delete
    * still targets. When no bound is computable (oversized key set, null
    * keys, unmappable types, a key set above the decode bound) (d)
    * degrades to all survivors — still a file subset, never the
    * state-diff fallback. */
  private def deltaFileSets(m: TableMeta, from: SnapshotMeta,
      toSnap: SnapshotMeta): (Set[String], Set[String]) = {
    val entFrom = Meta.readEntries(location, from)
    val entTo = Meta.readEntries(location, toSnap)
    def dataPaths(es: Seq[FileMeta]) =
      es.filter(_.fileType == "data").map(e => entryPath(location, e.path)).toSet
    def overlays(es: Seq[FileMeta]) =
      es.filterNot(_.fileType == "data").map(e => entryPath(location, e.path) -> e).toMap
    val (dataFrom, dataTo) = (dataPaths(entFrom), dataPaths(entTo))
    val (ovFrom, ovTo) = (overlays(entFrom), overlays(entTo))
    val ovChanged = (ovFrom.keySet diff ovTo.keySet) ++ (ovTo.keySet diff ovFrom.keySet)
    val changedMeta = ovChanged.toSeq.map(p => (ovTo.get(p) orElse ovFrom.get(p)).get)
    val survivors = dataFrom intersect dataTo
    val (eqChanged, fileScoped) = changedMeta.partition(_.fileType == "eqdel")
    // posdel/DV targets that survive at both ends must scan on BOTH sides:
    // the overlay delta is exactly what deleted (or resurrected) rows in
    // them. Stored targets resolve by the rule the scan applies
    val data = (entFrom ++ entTo).filter(_.fileType == "data").distinctBy(_.path)
    val touched =
      if (fileScoped.isEmpty) Set.empty[String]
      else if (!deletes.decodable(m, data, fileScoped)) survivors
      else {
        val resolve = deletes.resolver(survivors.toSeq)
        val io = new DriverParquet(spark)
        fileScoped.flatMap(e => deletes.targets(m, e, io).keys.flatMap(resolve)).toSet
      }
    // (d): survivors an in-window equality delete could touch, bounded by
    // their manifest column stats against the delete's key values — a
    // survivor excluded here provably holds no row any deleted tuple
    // matches (per-column bounds are a conservative superset of the
    // tuple-wise test, and fileMatches keeps anything without stats)
    val eqTouched: Set[String] =
      if (eqChanged.isEmpty) Set.empty
      else {
        val survivorMeta = entTo.filter(e =>
          e.fileType == "data" && survivors(entryPath(location, e.path)))
        val bounds = eqChanged.map(eqScopePreds(m, _))
        survivorMeta.filter(f => bounds.exists(ps => Pruning.fileMatches(f, m, ps)))
          .map(f => entryPath(location, f.path)).toSet
      }
    val both = touched ++ eqTouched
    (dataFrom.diff(dataTo) ++ both, dataTo.diff(dataFrom) ++ both)
  }

  /** Conservative per-column stat bounds for one equality-delete file:
    * `Pred(col, "in", keys)` for every key column whose decoded values
    * the stats can all order. Empty result = no exclusion possible (a key
    * set above [[EqScopeMaxKeys]], no longer tiny metadata, or above the
    * decode bound; a null key — null-safe equality matches rows min/max
    * can't see — a NaN, or a type the stats don't order): every survivor
    * stays a candidate, which is still a file subset, never a state-diff
    * fallback. */
  private val EqScopeMaxKeys = 4096L

  private def eqScopePreds(m: TableMeta, e: FileMeta): Seq[Pruning.Pred] = {
    if (e.rowCount > EqScopeMaxKeys || !deletes.decodable(m, Nil, Seq(e))) return Nil
    val schema = m.schema(e.schemaId)
    val tuples = deletes.keys(m, e, new DriverParquet(spark)).toSeq.map {
      case k if e.eqFieldIds.size == 1 => Seq(k)
      case k => k.asInstanceOf[Seq[Any]]
    }
    e.eqFieldIds.zipWithIndex.flatMap { case (id, i) =>
      val fld = schema.byId(id).get
      val vs = tuples.map(_(i)).distinct
      // decoded keys are Spark's internal values, already the encoding
      // the stats compare against (Long micros, Int days, Decimal)
      if (vs.exists(v => v == null || v == DeletedKeys.NaN) ||
          !StatOrdered(fld.dtype.takeWhile(_ != '('))) None
      else Some(Pruning.Pred(fld.name, "in", vs))
    }
  }

  private val StatOrdered = Set("int", "bigint", "smallint", "tinyint", "double", "float",
    "decimal", "string", "timestamp", "timestamp_ntz", "date")

  private def changesImpl(fromSnapshotId: Long, toSnapshotId: Option[Long],
      scoped: Boolean): DataFrame = {
    val (m, from, toSnap) = window(fromSnapshotId, toSnapshotId)
    require(m.formatVersion >= 3, "changes() needs v3 row lineage")
    val names = m.schema(toSnap.schemaId).fields.map(_.name)
    val windowOps = m.snapshots.filter(s =>
      s.sequenceNumber > from.sequenceNumber &&
        s.sequenceNumber <= toSnap.sequenceNumber)
    lastChangesScope = None
    if (windowOps.forall(_.operation == "append")) {
      val base = scans.scanSnapshot(scans.planScan(m, toSnap, toSnap.schemaId, Nil)
        .keep(_.sequenceNumber > from.sequenceNumber), None, withLineage = true, withPos = false)
      return base.select(names.map(col) ++ Seq(lit("insert").as("_change_type"),
        col("_last_updated_sequence_number").as("_commit_seq")): _*)
    }
    // delta scoping: each side scans only the files that can carry a
    // change — delta cost, not table cost, paid per micro-batch by stream CDC
    val scope = if (scoped) Some(deltaFileSets(m, from, toSnap)) else None
    lastChangesScope = scope
    def side(s: SnapshotMeta, subset: Option[Set[String]]) = {
      val plan = scans.planScan(m, s, toSnap.schemaId, Nil)
      scans.scanSnapshot(subset.map(plan.only).getOrElse(plan), None,
        withLineage = true, withPos = false)
    }
        .select(struct(names.map(col): _*).as("_v"), col("_row_id"),
          col("_last_updated_sequence_number").as("_seqn"))
    val a = side(from, scope.map(_._1))
      .select(col("_v").as("_av"), col("_row_id"), col("_seqn").as("_aseq"))
    val b = side(toSnap, scope.map(_._2))
      .select(col("_v").as("_bv"), col("_row_id"), col("_seqn").as("_bseq"))
    val j = a.join(b, Seq("_row_id"), "full_outer")
    // classify each joined row into its change rows in ONE pass (an
    // unioned-filters form would re-execute the full-outer join — and the
    // MoR overlay scans under it — once per change type)
    def chg(v: Column, typ: String, seq: Column) =
      struct(v.as("_v"), lit(typ).as("_t"), seq.cast(LongType).as("_s"))
    val changeArr =
      when(col("_aseq").isNull,
        array(chg(col("_bv"), "insert", col("_bseq"))))
      .when(col("_bseq").isNull,
        array(chg(col("_av"), "delete", lit(null))))
      .when(!(col("_av") <=> col("_bv")),
        array(chg(col("_av"), "update_before", col("_bseq")),
          chg(col("_bv"), "update_after", col("_bseq"))))
    // unchanged rows fall through to NULL; explode emits nothing for them
    j.select(explode(changeArr).as("_c"))
      .select(names.map(n => col("_c._v").getField(n).as(n)) :+
        col("_c._t").as("_change_type") :+
        col("_c._s").as("_commit_seq"): _*)
  }

  /** Incremental (CDC-style) read: rows APPENDED strictly after
    * `fromSnapshotId`, up to the current (or given) end snapshot — the
    * Iceberg incremental-scan analog. Selection is by manifest sequence
    * number on the driver: only data files committed in the window are
    * read at all, so consuming a day's delta from a year-old table costs
    * the delta, not the table. Row-level deletes in the window are
    * reflected (a row appended then MoR-deleted inside the window does
    * not appear).
    *
    * Refuses windows containing any DATA-FILE REWRITE — compaction
    * ("replace") AND copy-on-write delete/update/merge/partition-
    * overwrite: all of them rewrite SURVIVING pre-window rows into files
    * with new sequence numbers, so the file-seq selection would replay
    * old rows as "new" — a silently wrong delta. The discriminator is
    * the snapshot summary, not the operation tag (a CoW delete commits
    * as "delete", same as the harmless MoR delete): a commit that both
    * ADDS data files and REMOVES files has re-sequenced surviving rows.
    * MoR deletes/updates and delete-file / manifest rewrites are
    * harmless — they never remove-and-replace data files (an in-window
    * MoR update surfaces the updated rows' new versions, matching the
    * deletes-reflected contract). Maintenance-tolerant consumers use
    * [[appendsBetween]] (per-snapshot added files, deletes NOT
    * reflected) or [[changes]] (full lineage-based CDC). */
  def scanIncremental(fromSnapshotId: Long,
      toSnapshotId: Option[Long] = None): DataFrame = {
    val (m, from, end) = window(fromSnapshotId, toSnapshotId)
    val fromSeq = from.sequenceNumber
    // rewrote-data test: added data files AND removed files in one commit
    // (summary-based). Snapshots persisted before summaries existed fall
    // back to the operation tag — and must refuse 'delete'/'update'/
    // 'merge' too, because a legacy COPY-ON-WRITE delete commits under
    // the same tag as the harmless MoR delete and there is no summary to
    // tell them apart; assuming MoR would silently replay re-sequenced
    // surviving rows as new (the exact corruption this gate exists for).
    def rewritesData(s: SnapshotMeta): Boolean = {
      val added = s.summary.get("added-data-files").flatMap(_.toLongOption)
      val removed = s.summary.get("removed-files").flatMap(_.toLongOption)
      (added, removed) match {
        case (Some(a), Some(r)) => a > 0 && r > 0
        case _ => Set("replace", "overwrite", "delete", "update", "merge")(s.operation)
      }
    }
    val ancestors = m.ancestorsOf(end.snapshotId)
    val rewrites = m.snapshots.filter(s =>
      ancestors(s.snapshotId) &&
        s.sequenceNumber > fromSeq && s.sequenceNumber <= end.sequenceNumber &&
        rewritesData(s))
    require(rewrites.isEmpty,
      s"scanIncremental window contains ${rewrites.size} data-file-rewriting " +
        s"snapshot(s) (${rewrites.map(_.operation).distinct.mkString(",")}: " +
        "compaction or copy-on-write delete/update/overwrite) whose " +
        "re-sequenced files would corrupt the delta; use appendsBetween() " +
        "or changes()")
    scans.scanSnapshot(scans.planScan(m, end, end.schemaId, Nil)
      .keep(_.sequenceNumber > fromSeq), None, withLineage = false, withPos = false)
  }
}
