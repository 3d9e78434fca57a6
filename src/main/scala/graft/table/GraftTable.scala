package graft.table

import java.nio.file.{Files, Paths}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.table.TableScan.{entryPath, normPath, phys, sparkType}

/** Deletion vectors (v3): one bitmap of deleted row positions per data file.
  * Encoding is a DENSE java.util.BitSet image (not roaring containers) —
  * trivially portable, and bounded by file row count (1M rows ≈ 125 KB
  * worst case), which is the right trade for row-group-sized data files.
  * Positions are bounded to Int.MaxValue (a single parquet file never
  * holds 2^31 rows at sane file sizes); encode() rejects anything larger
  * rather than silently truncating. At commit time vectors are built
  * distributed (one group per target file). */
object Dv {
  def encode(positions: Iterator[Long]): Array[Byte] = {
    val bs = new java.util.BitSet()
    positions.foreach { p =>
      require(p >= 0 && p <= Int.MaxValue,
        s"DV position $p outside dense-bitset range [0, 2^31)")
      bs.set(p.toInt)
    }
    bs.toByteArray
  }
  def decode(bytes: Array[Byte]): Array[Long] =
    java.util.BitSet.valueOf(bytes).stream().mapToLong(_.toLong).toArray
}

object WriteMode extends Enumeration {
  val CopyOnWrite, MergeOnRead, DeletionVector = Value
}

/** Test instrumentation: counts target×source ON-expression join passes
  * built by merge(). The single-pass MERGE contract (one ON join per
  * commit, everything else derived from its persisted matched set) is
  * pinned by PlanSpec against this counter. */
private[graft] object MergeStats {
  val onJoinPasses = new java.util.concurrent.atomic.AtomicLong
}

/** A graft-format table: Iceberg-equivalent semantics implemented directly
  * on the public Spark DataFrame API (see SURVEY.md §2.1, §3, §4).
  *
  * Physical parquet columns are named by field id (`f<id>`), so
  * rename/add/drop/promote are O(1) metadata commits. Data files carry
  * their schemaId and specId; reads group files by schemaId, align each
  * group to the presented schema (cast promotions, fill v3 defaults), and
  * union — no rewrites on evolution.
  *
  * This class is the public facade over three units: the [[Committer]]
  * (the commit base and every publish), the scan unit [[TableScan]]
  * (planning and the DataFrame of a plan) and the change-read unit
  * [[TableChanges]] (mixed in: change windows and the reads over them).
  * They and the operations here read delete files through one
  * [[DeleteReader]]. Row-level operations, data-file writes, maintenance
  * and clone leases live in this class.
  */
class GraftTable(val spark: SparkSession, val location: String) extends TableChanges {

  protected val deletes = new DeleteReader(spark, entryPath(location, _))
  private[graft] val committer = new Committer(location, deletes)
  protected val scans = new TableScan(spark, location, deletes)
  import committer.{commit, nextIds}
  import scans.{planRead, planScan, scanSnapshot}

  /** The handle's commit base: the last state it read or published. */
  def meta: TableMeta = committer.meta
  /** The table root, normalized, without a trailing slash. */
  private val root = normPath(location).stripSuffix("/")
  private def headEntries(m: TableMeta, ref: String): Seq[FileMeta] =
    Meta.headEntries(location, m, ref)

  // ==========================================================================
  // Scan
  // ==========================================================================

  /** Presented-schema read of a snapshot.
    * @param filter SQL predicate over logical column names — applied to the
    *   DataFrame AND used for driver-side manifest pruning
    * @param withLineage expose v3 `_row_id`/`_last_updated_sequence_number`
    * @param withPos expose internal `_gf` (file) / `_gp` (position)
    * @param preds pruning predicates the caller already extracted (the SQL
    *   rule, whose WHERE clause stays in the plan above): they only prune */
  def scan(
      filter: Option[String] = None,
      snapshotId: Option[Long] = None,
      asOfTimestampMs: Option[Long] = None,
      ref: Option[String] = None,
      withLineage: Boolean = false,
      withPos: Boolean = false,
      preds: Seq[Pruning.Pred] = Nil): DataFrame =
    scanSnapshot(planRead(snapshotId, asOfTimestampMs, ref,
      preds ++ filter.map(Pruning.extract(_, spark)).getOrElse(Nil)),
      filter, withLineage, withPos)

  // ==========================================================================
  // Write path
  // ==========================================================================

  /** Write `df` (logical column names, optional materialized lineage)
    * as new data files under data/s<snapId> in the current schema and
    * partition spec. Returns manifest entries, their stats read from the
    * written files' parquet footers ([[FooterStats]]).
    *
    * A partitioned write hash-clusters its rows by the partition columns
    * so that each partition tuple lands in one file — unless the input is
    * already ONE Spark partition. One task then writes one file per
    * tuple by itself (the parquet writer sorts its rows by the partition
    * columns), and the exchange would only add a shuffle map job and an
    * adaptive re-plan that coalesces back to that same single reducer.
    * The decision reads the one projection's analyzed plan
    * ([[GraftTable.singlePartition]]): nothing is optimized, planned or
    * run to make it, and every input it cannot prove single keeps the
    * exchange. */
  private def writeDataFiles(df: DataFrame, snapId: Long, seq: Long,
      repartitionTo: Option[Int] = None): Seq[FileMeta] = {
    val m = meta
    val (schemaId, specId) = (m.currentSchemaId, m.currentSpecId)
    val (schema, spec) = (m.schema(schemaId), m.spec(specId))
    // logical → physical in ONE projection (one analysis of the input):
    // every schema field cast and renamed, the materialized lineage, and
    // the `_p_*` partition values computed over the same casts
    val typed = schema.fields.map(f => f.id -> col(f.name).cast(sparkType(f.dtype))).toMap
    val pcols = spec.fields.map(pf =>
      Transforms.column(pf, pf.sourceIds.map(typed),
        pf.sourceIds.map(id => schema.byId(id).get.dtype)).as(s"_p_${pf.name}"))
    var out = df.select(schema.fields.map(f => typed(f.id).as(phys(f))) ++
      Seq("_row_id", "_last_seq").filter(df.columns.contains).map(c => col(c).cast(LongType)) ++
      pcols: _*)
    val rel = s"data/s$snapId-${UUID.randomUUID.toString.take(8)}"
    val dir = entryPath(location, rel)
    // INT96 timestamps carry no usable footer statistics — write micros for
    // graft data files, restoring the session's setting afterwards (other
    // writers in the session must keep their own timestamp physical type)
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val prevTs = spark.conf.getOption(tsKey)
    def propCols(key: String) = m.properties.get(key).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .map(n => col(s"f${schema.byName(n).id}"))
    // sort-order clustering (table property "write.sort" = "colA,colB"):
    // range-partition + sort within files so per-file min/max ranges are
    // disjoint — manifest pruning then skips all but the matching files.
    // The Iceberg sort-order analog; at 100 TB this is what turns a
    // point/range query from a full scan into a handful of file reads.
    val sortCols = propCols("write.sort")
    // z-order clustering ("write.zorder" = "colA,colB"): cluster on the
    // interleaved z-value instead of a linear sort, so per-file min/max
    // ranges stay tight on EVERY listed dimension (see [[ZOrder]])
    val zSrcCols = propCols("write.zorder")
    // explicit clustering width ("write.target-partitions") — an explicit
    // partition count also opts the range shuffle out of AQE coalescing,
    // which would otherwise merge small clustered writes back into one file
    val tgtParts = repartitionTo
      .orElse(m.properties.get("write.target-partitions").map(_.toInt))
    if (pcols.nonEmpty) {
      val pRefs = spec.fields.map(pf => col(s"_p_${pf.name}"))
      if (!GraftTable.singlePartition(out.queryExecution.analyzed)) out = out.repartition(pRefs: _*)
      // with a partition spec, clustering properties apply WITHIN partitions
      // (z-order wins over a linear sort when both are set). The sort must
      // LEAD with the partition columns: the parquet writer requires rows
      // ordered by them and would otherwise insert its own sort, destroying
      // the clustering order.
      if (zSrcCols.nonEmpty) {
        out = out.withColumn("_gz", ZOrder.zColumn(out, zSrcCols))
          .sortWithinPartitions(pRefs :+ col("_gz"): _*).drop("_gz")
      } else if (sortCols.nonEmpty)
        out = out.sortWithinPartitions(pRefs ++ sortCols: _*)
    } else if (zSrcCols.nonEmpty) {
      out = out.withColumn("_gz", ZOrder.zColumn(out, zSrcCols))
      out = tgtParts
        .map(n => out.repartitionByRange(n, col("_gz")))
        .getOrElse(out.repartitionByRange(col("_gz")))
        .sortWithinPartitions(col("_gz"))
        .drop("_gz")
    } else if (sortCols.nonEmpty) {
      out = tgtParts
        .map(n => out.repartitionByRange(n, sortCols: _*))
        .getOrElse(out.repartitionByRange(sortCols: _*))
        .sortWithinPartitions(sortCols: _*)
    } else tgtParts.foreach(n => out = out.repartition(n))
    // table properties "write.option.<k>" pass through to the parquet writer
    // (e.g. write.option.parquet.bloom.filter.enabled#f2 -> true)
    val writer = m.properties.foldLeft(out.write.mode("errorifexists")) {
      case (w, (k, v)) if k.startsWith("write.option.") =>
        w.option(k.stripPrefix("write.option."), v)
      case (w, _) => w
    }
    spark.conf.set(tsKey, "TIMESTAMP_MICROS")
    try {
      (if (pcols.nonEmpty) writer.partitionBy(spec.fields.map(pf => s"_p_${pf.name}"): _*)
       else writer).parquet(dir)
    } finally prevTs match {
      case Some(v) => spark.conf.set(tsKey, v)
      case None => spark.conf.unset(tsKey)
    }
    // stats come from parquet FOOTERS on the driver — O(files) metadata
    // reads, not a second O(bytes) pass over the data
    FooterStats.collect(dir, location, schema, spec, specId, schemaId, seq)
  }

  /** alias for the package-level exception (kept for source compatibility) */
  type CommitConflictException = graft.table.CommitConflictException

  /** INSERT: append df (logical column names) as new data files. */
  def append(df: DataFrame, branch: String = "main"): SnapshotMeta = {
    val (snapId, seq) = nextIds()
    val files = writeChecked(df, "append", snapId, seq)
    commit("append", branch, files, Set.empty, snapId, seq, rebaseable = true)
  }

  /** Iceberg `add_files` / migrate analog: REGISTER existing parquet
    * files (a file or a directory tree) into the table WITHOUT rewriting
    * a byte — the lakehouse migration primitive. Entries are stamped
    * name-mapped: their columns keep logical names and are read in place
    * (absolute paths), stats come from their footers on the driver, and
    * every subsequent operation (filters, row-level deletes, compaction)
    * treats them like native files — a CoW rewrite or compaction
    * naturally materializes them into the table's physical layout.
    *
    * Requires: every current-schema column present in the imported files
    * under its logical name (missing columns would silently null-fill)
    * WITH a matching Spark type (a physical-type mismatch would otherwise
    * surface later as an opaque scan-time conversion error), not already
    * registered in the branch (double registration would silently
    * double-count rows — Iceberg's check_duplicate_files analog), and an
    * unpartitioned target (imported trees carry no graft partition dirs,
    * so partition pruning would have nothing to prune on — matching
    * Iceberg's requirement that add_files partitioning agree with the
    * table's).
    *
    * GC safety: registered files live OUTSIDE the table location and are
    * never physically deleted — [[expireSnapshots]] only drops them from
    * metadata (same hazard note as Iceberg's add_files docs). */
  def addFiles(sourceAbs: String, branch: String = "main"): SnapshotMeta = {
    val m = meta
    if (m.currentSpec.fields.nonEmpty) throw new UnsupportedOperationException(
      "add_files: target table must be unpartitioned (imported files carry " +
        "no graft partition directories)")
    val src = spark.read.parquet(sourceAbs).schema
    val have = src.fieldNames.toSet
    val missing = m.currentSchema.fields.map(_.name).filterNot(have)
    if (missing.nonEmpty) throw new IllegalArgumentException(
      s"add_files: imported files lack table column(s): ${missing.mkString(", ")}")
    val typeBad = m.currentSchema.fields.flatMap { f =>
      val declared = org.apache.spark.sql.types.DataType.fromDDL(f.dtype)
      src.fields.find(_.name == f.name).collect {
        case s if s.dataType != declared =>
          s"${f.name} (file ${s.dataType.simpleString}, table ${declared.simpleString})"
      }
    }
    if (typeBad.nonEmpty) throw new IllegalArgumentException(
      s"add_files: imported file type mismatch: ${typeBad.mkString(", ")}")
    val (snapId, seq) = nextIds()
    val entries = FooterStats.collect(sourceAbs, location, m.currentSchema,
      m.currentSpec, m.currentSpecId, m.currentSchemaId, seq, nameMapped = true)
    if (entries.isEmpty) throw new IllegalArgumentException(
      s"add_files: no parquet files under $sourceAbs")
    val live = headEntries(m, branch).map(e => entryPath(location, e.path)).toSet
    val dups = entries.map(e => entryPath(location, e.path)).filter(live)
    if (dups.nonEmpty) throw new IllegalArgumentException(
      s"add_files: already registered in '$branch': ${dups.take(3).mkString(", ")}" +
        (if (dups.size > 3) s" (+${dups.size - 3} more)" else ""))
    commit("add-files", branch, entries, Set.empty, snapId, seq, rebaseable = true)
  }

  /** INSERT OVERWRITE: atomically replace the branch's visible contents —
    * one snapshot whose manifest holds only the new files. Every prior
    * entry (data AND delete files) is dropped, so no stale position
    * delete or DV can mask the new rows. Non-rebaseable: a concurrent
    * writer raises [[CommitConflictException]] instead of interleaving. */
  def overwrite(df: DataFrame, branch: String = "main"): SnapshotMeta = {
    val (snapId, seq) = nextIds()
    val files = writeChecked(df, "overwrite", snapId, seq)
    val prior = headEntries(meta, branch).map(e => entryPath(location, e.path)).toSet
    commit("overwrite", branch, files, prior, snapId, seq)
  }

  /** Dynamic partition overwrite (Iceberg's replacePartitions): atomically
    * replace ONLY the partitions the incoming data touches — the idempotent
    * daily-backfill primitive ("recompute day X and swap it in") that a
    * full [[overwrite]] over-deletes for. One snapshot: the new files land,
    * and every prior data file whose partition tuple appears in the new
    * file set is dropped; the commit drops the position and DV entries
    * that named only those files ([[commit]]'s dangling rule).
    * Requires a partitioned table; at scale the commit is manifest-only
    * work proportional to the touched partitions, never a table rewrite. */
  def overwritePartitions(df: DataFrame, branch: String = "main"): SnapshotMeta = {
    val m0 = meta
    require(m0.spec(m0.currentSpecId).fields.nonEmpty,
      "overwritePartitions needs a partitioned table; use overwrite()")
    val (snapId, seq) = nextIds()
    val files = writeChecked(df, "overwrite-partitions", snapId, seq)
    val touched = files.map(_.partition).toSet
    // segment-pruned read (round 14): a segment proven disjoint from the
    // touched tuples can contain neither removed data (partition match is
    // exact tuple equality, the same rule applied per entry below) nor
    // overlay entries (overlays live in incomplete segments, never
    // skippable) — at scale this makes the whole commit O(touched
    // partitions) in manifest I/O, not O(table files)
    val priorEntries = meta.head(branch).toSeq
      .flatMap(s => Meta.readEntriesTouching(location, s, touched))
    val removedData = priorEntries
      .filter(e => e.fileType == "data" && touched.contains(e.partition))
      .map(e => entryPath(location, e.path)).toSet
    commit("overwrite", branch, files, removedData, snapId, seq, touched = Some(touched))
  }

  // ==========================================================================
  // Row-level operations
  // ==========================================================================

  /** The data files holding rows that match `cond`, and the plan they were
    * found in. Row-level ops must resolve their row/file sets against the
    * ref they COMMIT to — resolving against main while committing to a
    * branch silently operates on the wrong table state (found by
    * TableFuzzSpec's branch-routed op sequences). Every caller threads its
    * branch here. */
  private def affectedFiles(cond: String, branch: String): (ScanPlan, Set[String]) = {
    val plan = planRead(ref = Some(branch), preds = Pruning.extract(cond, spark))
    val files = scanSnapshot(plan, Some(cond), withLineage = false, withPos = true)
      .select("_gf").distinct().collect().map(_.getString(0)).toSet
    (plan, files)
  }

  /** read only `files` of the plan's snapshot, its deletes applied, lineage
    * materialized — the input to any copy-on-write rewrite. Reusing the
    * plan that found the files rewrites exactly the snapshot they came
    * from, without planning it again. */
  private def readForRewrite(plan: ScanPlan, files: Set[String],
      withPos: Boolean = false): DataFrame =
    scanSnapshot(plan.only(files), None, withLineage = true, withPos = withPos)
      .withColumnRenamed("_last_updated_sequence_number", "_last_seq")

  def delete(cond: String, mode: WriteMode.Value = WriteMode.CopyOnWrite,
      branch: String = "main"): SnapshotMeta = {
    val (snapId, seq) = nextIds()
    // the (file, position) of every row a merge-on-read delete removes
    lazy val hits = scan(filter = Some(cond), withPos = true, ref = Some(branch))
      .select(col("_gf").as("file_path"), col("_gp").as("pos"))
    mode match {
      case WriteMode.CopyOnWrite =>
        val (plan, files) = affectedFiles(cond, branch)
        if (files.isEmpty) return commit("delete", branch, Nil, Set.empty, snapId, seq)
        val keep = readForRewrite(plan, files)
          .filter(!coalesce(expr(cond), lit(false)))
        val out = writeDataFiles(keep, snapId, seq)
        commit("delete", branch, out, files, snapId, seq,
          touched = plan.partitionsOf(files))
      case WriteMode.MergeOnRead =>
        commit("delete", branch, Seq(writeDeletes(hits, "posdel", snapId, seq)), Set.empty,
          snapId, seq, rebaseable = true)
      case WriteMode.DeletionVector =>
        val m = meta
        val head = headEntries(m, branch)
        val existing = head.filter(_.fileType == "dv")
        val live = head.filter(_.fileType == "data").map(e => entryPath(location, e.path))
        import spark.implicits._
        // bitmap per target file from the NEW hit positions only — one
        // shuffle keyed by file; duplicate positions are absorbed by the
        // bitset, so no distinct() pass is needed
        val newVecs = hits.as[(String, Long)].groupByKey(_._1)
          .mapGroups((fp, it) => (fp, Dv.encode(it.map(_._2))))
          .toDF("file_path", "dv")
        // existing vectors merge by OR-ing byte images per file — O(#files)
        // rows end to end, never exploded to row positions. Commit latency
        // therefore scales with files touched, not rows ever deleted.
        val orDv = udf((a: Array[Byte], b: Array[Byte]) =>
          if (a == null) b
          else if (b == null) a
          else {
            val x = java.util.BitSet.valueOf(a)
            x.or(java.util.BitSet.valueOf(b))
            x.toByteArray
          })
        // vectors of files no longer live (rewritten since) are not carried
        val old = deletes.vectorRows(m, live, existing).map(v =>
          deletes.liveOnly(v, live).select(col("file_path"), col("dv").as("dv_old")))
        // full outer: files with no new deletes must carry their old vector
        // forward because the superseded DV entries leave the manifest below
        val vecs = old match {
          case None => newVecs
          case Some(o) => newVecs.join(o, Seq("file_path"), "full_outer")
            .select(col("file_path"), orDv(col("dv"), col("dv_old")).as("dv"))
        }
        val entry = writeDeletes(vecs, "dv", snapId, seq)
        // drop superseded DV entries: the latest-seq filter at read handles
        // overlap, but removing them keeps manifests lean. The removals are
        // all OVERLAY entries, which only live in incomplete (never
        // skippable) segments — so the empty touched set soundly lets the
        // commit skip every complete all-data segment unread.
        val oldPaths = existing.map(e => entryPath(location, e.path)).toSet
        commit("delete", branch, Seq(entry), oldPaths, snapId, seq,
          touched = Some(Set.empty))
    }
  }

  /** `rows` as one new delete entry of kind `fileType`, in the schema the
    * format fixes for it, recording its bytes on disk. */
  private def writeDeletes(rows: DataFrame, fileType: String, snapId: Long, seq: Long,
      eqFieldIds: List[Int] = Nil): FileMeta = {
    val prefix = Map("posdel" -> "pd", "dv" -> "dv", "eqdel" -> "eq")(fileType)
    val rel = s"deletes/$prefix$snapId-${UUID.randomUUID.toString.take(8)}"
    val dir = deletes.dir(rel)
    rows.write.parquet(dir)
    FileMeta(rel, fileType, meta.currentSpecId, meta.currentSchemaId, Map.empty,
      FooterStats.rowCount(dir), DeleteFiles.diskBytes(dir), seq, Map.empty, eqFieldIds = eqFieldIds)
  }

  /** equality delete (always merge-on-read): rows whose key columns match a
    * row of `keys` are deleted, if written before this delete */
  def deleteByKeys(keys: DataFrame, branch: String = "main"): SnapshotMeta = {
    val (snapId, seq) = nextIds()
    val schema = meta.currentSchema
    val ids = keys.columns.map(n => schema.byName(n).id).toList
    val physKeys = keys.select(keys.columns.map(n =>
      col(n).cast(sparkType(schema.byName(n).dtype)).as(s"f${schema.byName(n).id}")): _*)
    commit("delete", branch, Seq(writeDeletes(physKeys, "eqdel", snapId, seq, ids)), Set.empty,
      snapId, seq, rebaseable = true)
  }

  def update(cond: String, set: Map[String, String],
      mode: WriteMode.Value = WriteMode.CopyOnWrite,
      branch: String = "main"): SnapshotMeta = {
    val (snapId, seq) = nextIds()
    val schema = meta.currentSchema
    val hit = coalesce(expr(cond), lit(false))
    mode match {
      case WriteMode.CopyOnWrite =>
        val (plan, files) = affectedFiles(cond, branch)
        if (files.isEmpty) return commit("overwrite", branch, Nil, Set.empty, snapId, seq)
        val src = readForRewrite(plan, files)
        val updated = src.select(schema.fields.map { f =>
          set.get(f.name) match {
            case Some(e) => when(hit, expr(e).cast(sparkType(f.dtype)))
              .otherwise(col(f.name)).as(f.name)
            case None => col(f.name)
          }
        } ++ Seq(col("_row_id"),
          when(hit, lit(seq)).otherwise(col("_last_seq")).as("_last_seq")): _*)
        val out = writeChecked(updated, "update", snapId, seq)
        commit("overwrite", branch, out, files, snapId, seq,
          touched = plan.partitionsOf(files))
      case _ =>
        // MoR update = position-delete the old rows + append the new versions
        // (row ids preserved — v3 lineage survives the rewrite)
        val rows = scan(filter = Some(cond), withLineage = true, withPos = true,
          ref = Some(branch))
        val rows2 = rows.withColumnRenamed("_last_updated_sequence_number", "_last_seq")
        val dels = rows2.select(col("_gf").as("file_path"), col("_gp").as("pos"))
        val delEntry = writeDeletes(dels, "posdel", snapId, seq)
        val updated = rows2.select(schema.fields.map { f =>
          set.get(f.name) match {
            case Some(e) => expr(e).cast(sparkType(f.dtype)).as(f.name)
            case None => col(f.name)
          }
        } ++ Seq(col("_row_id"), lit(seq).as("_last_seq")): _*)
        val dataEntries = writeChecked(updated, "update", snapId, seq)
        commit("overwrite", branch, delEntry +: dataEntries, Set.empty, snapId, seq)
    }
  }

  /** MERGE INTO target t USING source s ON <on>
    *   WHEN MATCHED [AND matchedDelete] THEN DELETE / UPDATE SET matchedSet
    *   WHEN NOT MATCHED THEN INSERT insertValues.
    * Copy-on-write, file-scoped: only files holding matched rows are
    * rewritten; inserts append, in the same data-file write as the
    * rewritten rows (one write job per MERGE, so a new file may mix
    * materialized and inherited lineage rows). Expressions may reference
    * `t.` and `s.`.
    *
    * The target×source ON-expression join runs ONCE: its matched set M
    * (file, pos, the ON-referenced target keys, all source columns) is
    * persisted and everything else derives from M —
    *   - the cardinality guard and the affected-file set are one aggregate
    *     over M (MERGE must error when a target row matches two source
    *     rows, not duplicate it through the rewrite);
    *   - the rewrite joins the affected-file subset to M on (file, pos),
    *     an equi-join on compact keys that Spark broadcasts while M's exact
    *     size is within its broadcast bound;
    *   - inserts anti-join the source against M's carried target keys,
    *     never rescanning the table. Any (t, s) pair satisfying ON puts
    *     t's keys in M, so "s matches no row of M's keys" ⇔ "s matches no
    *     row of the table".
    * Per commit the table is planned once: the match pass scans it whole
    * and the rewrite reads the matched files of that same plan — this is
    * the per-micro-batch cost a streaming MERGE apply pays, so no third
    * scan and no repeated ON join. */
  def merge(source: DataFrame, on: String,
      matchedSet: Map[String, String] = Map.empty,
      matchedDelete: Boolean = false,
      insertValues: Option[Map[String, String]] = None,
      branch: String = "main"): SnapshotMeta = {
    val (snapId, seq) = nextIds()
    val schema = meta.currentSchema
    require(!source.columns.exists(c => c == "_mf" || c == "_mp" || c.startsWith("_tk_")),
      "MERGE source columns _mf/_mp/_tk_* collide with internal match-set names")
    // ON contract: every column reference must be qualified t. (target) or
    // s. (source). The matched-set design depends on it — target columns
    // are carried into M by their t.-qualification, so an unqualified ref
    // would silently miss the carry and fail later in the insert anti-join
    // with an unhelpful resolution error. Validate UP FRONT, naming the
    // offending attribute. Higher-order ON predicates need care: inside a
    // lambda body (exists(t.tags, x -> x = s.tag)) the parser wraps EVERY
    // one-part name — the bound parameter x AND any unqualified column —
    // as UnresolvedNamedLambdaVariable, and only ResolveLambdaVariables
    // later rewrites unbound ones back into column references. The
    // traversal therefore carries the enclosing lambda parameter names:
    // bound variables are exempt (they are not column references), while
    // an UNBOUND one-part lambda variable is exactly an unqualified
    // column reference and is refused here by name, instead of surfacing
    // later as an opaque AMBIGUOUS_REFERENCE from the ON join. A MULTI-part
    // lambda variable whose HEAD is bound (exists(t.items, x -> x.sku =
    // s.sku) parses x.sku as UnresolvedNamedLambdaVariable([x, sku])) is
    // struct-field extraction on the lambda parameter — Spark's
    // ResolveLambdaVariables resolves it by head-name lookup + ExtractValue
    // folding, so only the head decides bound-ness, never the arity.
    def freeAttrs(e: org.apache.spark.sql.catalyst.expressions.Expression,
        bound: Set[String]): Seq[org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute] =
      e match {
        case lf: org.apache.spark.sql.catalyst.expressions.LambdaFunction =>
          freeAttrs(lf.function,
            bound ++ lf.arguments.map(_.name.toLowerCase(java.util.Locale.ROOT)))
        case v: org.apache.spark.sql.catalyst.expressions.UnresolvedNamedLambdaVariable =>
          if (bound(v.nameParts.head.toLowerCase(java.util.Locale.ROOT))) Nil
          else Seq(org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(v.nameParts))
        case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          Seq(ua)
        case other => other.children.flatMap(freeAttrs(_, bound))
      }
    val onAttrs =
      freeAttrs(spark.sessionState.sqlParser.parseExpression(on), Set.empty)
    onAttrs.find(ua => ua.nameParts.length < 2 ||
        !(ua.nameParts.head.equalsIgnoreCase("t") ||
          ua.nameParts.head.equalsIgnoreCase("s"))).foreach { ua =>
      throw new IllegalArgumentException(
        s"MERGE ON must qualify every column with t. (target) or s. " +
          s"(source); '${ua.name}' is not")
    }
    // target columns the ON expression references — carried into M so the
    // insert anti-join can run against M instead of a second table scan
    val tRefs: Seq[String] = onAttrs.collect {
      case ua if ua.nameParts.head.equalsIgnoreCase("t") => ua.nameParts(1)
    }.distinct
    val plan = planRead(ref = Some(branch))
    val tgt = scanSnapshot(plan, None, withLineage = false, withPos = true)
    MergeStats.onJoinPasses.incrementAndGet()
    val m = tgt.alias("t").join(source.alias("s"), expr(on), "inner")
      .select(Seq(col("t._gf").as("_mf"), col("t._gp").as("_mp")) ++
        tRefs.map(c => col(s"t.$c").as(s"_tk_$c")) ++
        source.columns.toSeq.map(c => col(s"s.$c").as(c)): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // collecting the stats materializes M, so its size statistics are
      // exact and Spark's own bound picks broadcast or shuffle for the
      // joins against it below
      val stats = m.groupBy(col("_mf"), col("_mp")).agg(count(lit(1)).as("_n"))
        .groupBy(col("_mf")).agg(max(col("_n")).as("_mx"))
        .collect()
      if (stats.exists(_.getAs[Long]("_mx") > 1))
        throw new IllegalStateException(
          "MERGE: a target row matches more than one source row (ambiguous merge)")
      val files = stats.map(_.getString(0)).toSet

      val rewritten: Option[DataFrame] = if (files.isEmpty) None else {
        val part = readForRewrite(plan, files, withPos = true)
        val joined = part.alias("t").join(m.alias("s"),
          col("t._gf") === col("s._mf") && col("t._gp") === col("s._mp"),
          "left_outer")
        val matched = col("s._mf").isNotNull
        val base = if (matchedDelete) joined.filter(!matched) else joined
        Some(base.select(schema.fields.map { f =>
          matchedSet.get(f.name) match {
            case Some(e) => when(matched, expr(e).cast(sparkType(f.dtype)))
              .otherwise(col(s"t.${f.name}")).as(f.name)
            case None => col(s"t.${f.name}").as(f.name)
          }
        } ++ Seq(col("t._row_id").as("_row_id"),
          when(matched, lit(seq)).otherwise(col("t._last_seq")).as("_last_seq")): _*))
      }
      val inserted: Option[DataFrame] = insertValues.map { iv =>
        // anti-join against M's carried ON keys, not the table; fall back
        // to the table scan only if ON references no target column at all
        // (degenerate, but keep the old semantics)
        val notMatched =
          if (tRefs.nonEmpty) {
            val tKeys = m.select(tRefs.map(c => col(s"_tk_$c").as(c)): _*)
            source.alias("s").join(tKeys.alias("t"), expr(on), "left_anti")
          } else {
            MergeStats.onJoinPasses.incrementAndGet()
            source.alias("s").join(tgt.alias("t"), expr(on), "left_anti")
          }
        // beside rewritten rows an insert carries null lineage: the reader
        // inherits its row id and sequence from the file, per row
        val lineage = if (rewritten.isEmpty) Nil
          else Seq(lit(null).cast(LongType).as("_row_id"), lit(null).cast(LongType).as("_last_seq"))
        notMatched.select(schema.fields.map { f =>
          iv.get(f.name) match {
            case Some(e) => expr(e).cast(sparkType(f.dtype)).as(f.name)
            case None => lit(null).cast(sparkType(f.dtype)).as(f.name)
          }
        } ++ lineage: _*)
      }
      // rewritten and inserted rows go out in ONE write (one job, one
      // footer pass). No isEmpty pre-check on the inserts: that would run
      // the anti-join twice. Zero-row entries of the write are dropped.
      val written = (rewritten ++ inserted).reduceOption(_ union _).toSeq
        .flatMap(writeChecked(_, "merge", snapId, seq).filter(_.rowCount > 0L))
      commit("overwrite", branch, written, files, snapId, seq,
        touched = plan.partitionsOf(files))
    } finally m.unpersist(blocking = false)
  }

  // ==========================================================================
  // Schema / spec evolution (metadata-only commits)
  // ==========================================================================

  /** Schema evolution commit: `evolve` sees the committer's PINNED state,
    * so two racing column changes compose instead of the second silently
    * dropping the first's edit. */
  private def newSchema(evolve: TableMeta => (List[FieldMeta], Int)): Unit =
    committer.publish { m =>
      val (fields, lastFieldId) = evolve(m)
      val sid = m.lastSchemaId + 1
      m.copy(lastSchemaId = sid, currentSchemaId = sid,
        lastFieldId = math.max(m.lastFieldId, lastFieldId),
        schemas = m.schemas :+ SchemaMeta(sid, fields))
    }

  def addColumn(name: String, dtype: String, initialDefault: Option[String] = None): Unit =
    newSchema { m =>
      val s = m.currentSchema
      require(!s.fields.exists(_.name == name), s"column $name exists")
      val id = m.lastFieldId + 1
      (s.fields :+ FieldMeta(id, name, dtype, nullable = true, initialDefault), id)
    }

  def renameColumn(from: String, to: String): Unit =
    newSchema { m =>
      (m.currentSchema.fields.map(f => if (f.name == from) f.copy(name = to) else f), 0)
    }

  def dropColumn(name: String): Unit =
    newSchema(m => (m.currentSchema.fields.filterNot(_.name == name), 0))

  /** type promotion (int→bigint, float→double, decimal widening):
    * metadata-only; old files cast at read */
  def promoteType(name: String, dtype: String): Unit =
    newSchema { m =>
      (m.currentSchema.fields.map(f => if (f.name == name) f.copy(dtype = dtype) else f), 0)
    }

  def updateSpec(fields: Seq[PartFieldMeta]): Unit =
    committer.publish { m =>
      val sid = m.lastSpecId + 1
      m.copy(lastSpecId = sid, currentSpecId = sid,
        specs = m.specs :+ PartSpecMeta(sid, fields.toList))
    }

  // ==========================================================================
  // Refs, maintenance
  // ==========================================================================

  def createBranch(name: String, at: Option[Long] = None): Unit = setRef(name, at, isBranch = true)
  def createTag(name: String, at: Option[Long] = None): Unit = setRef(name, at, isBranch = false)

  /** Zero-copy SHALLOW CLONE (the Delta `CREATE TABLE ... CLONE` shape):
    * a NEW independent table at `target` whose single initial snapshot
    * references every current file of this table's `branch` head BY
    * ABSOLUTE PATH — data files, position/equality deletes, and DVs alike
    * (delete-file CONTENTS already address data files absolutely, and
    * per-entry sequence numbers are preserved, so MoR resolution in the
    * clone is bit-identical to the source). The clone commit writes one
    * manifest segment and one metadata json: O(files) metadata, ZERO data
    * bytes — cloning a 100 TB table costs the same as cloning 100 GB.
    * Afterwards the tables diverge freely: clone commits write under
    * `target` and never touch source files; source commits rewrite only
    * source metadata. Schema history, specs, row-id lineage space, and
    * the sequence-number high-water mark carry over (a post-clone commit
    * sequences ABOVE every cloned overlay, exactly like a source commit
    * would). The shallow-clone hazard — source snapshot expiry + orphan
    * cleanup physically deleting files a clone still references — is
    * closed by a RETENTION LEASE, not prose: the clone registers itself
    * under every source root its entries point into BEFORE it publishes
    * (metadata/clones/<uuid>.lease), and [[expireSnapshots]] /
    * [[removeOrphanFiles]] consult the lease registry and never delete a
    * file a live clone references. Dropping a clone (removing its
    * metadata) releases the lease at the source's next GC. */
  def shallowClone(target: String, branch: String = "main"): GraftTable = {
    // target may be a FRESH directory or a freshly-created EMPTY catalog
    // table (the CREATE TABLE ... CLONE shape — the catalog allocated and
    // registered the location; the clone metadata publishes as its next
    // version, pinned before the leases and the manifest are written).
    Committer.publishNew(target) {
      val m = committer.refresh()
      val entries = headEntries(m, branch).map(e => e.copy(path = entryPath(location, e.path)))
      val cloneUuid = UUID.randomUUID.toString
      // Register retention leases FIRST, in EVERY table root the cloned
      // entries point into — the direct source plus any upstream root a
      // chain of clones carried absolute paths through — so each root's GC
      // sees the lease before the clone is even readable. A crash between
      // here and the metadata publish leaves only a stale lease (target has
      // no metadata), self-released at that root's next GC once it ages
      // past [[leaseGraceMs]]. Roots are resolved against KNOWN table
      // locations (this table's plus the transitive cloned-from chain) —
      // a substring search for "/data/" would mis-root any table whose
      // location itself has an ancestor directory named data
      // (/x/data/tables/t1/data/f.parquet must lease /x/data/tables/t1,
      // not /x), and a mis-rooted lease is invisible to the source's GC:
      // the exact silent corruption the registry exists to prevent.
      val roots = knownEntryRoots(m)
      entries.map(_.path)
        .flatMap { p =>
          roots.find(r => p.startsWith(s"$r/data/") || p.startsWith(s"$r/deletes/"))
            .orElse {
              // conservative fallback for entries under NO known root
              // (add_files imports carried through a clone, an upstream
              // whose metadata is gone): entries live DIRECTLY under
              // <root>/data|deletes/, so the LAST such segment is the root
              val i = math.max(p.lastIndexOf("/data/"), p.lastIndexOf("/deletes/"))
              if (i > 0) Some(p.substring(0, i)) else None
            }
        }.distinct.foreach { r =>
          Files.createDirectories(leaseDir(r))
          Files.write(leaseDir(r).resolve(s"$cloneUuid.lease"),
            target.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      val seg = Meta.writeManifest(target,
        s"1-clone-${UUID.randomUUID.toString.take(8)}", entries)
      val snap = SnapshotMeta(1L, None, m.lastSequenceNumber,
        System.currentTimeMillis(), "clone", m.currentSchemaId, List(seg),
        Map(
          "cloned-from" -> location,
          "added-data-files" -> entries.count(_.fileType == "data").toString,
          "added-delete-files" -> entries.count(_.fileType != "data").toString,
          "added-records" -> entries.filter(_.fileType == "data")
            .map(_.rowCount).sum.toString))
      m.copy(tableUuid = cloneUuid,
        lastSnapshotId = 1L, snapshots = List(snap),
        refs = Map("main" -> RefMeta(1L, isBranch = true)))
    }
    new GraftTable(spark, target)
  }

  // --- shallow-clone retention leases ----------------------------------------
  /** lease registry under a table root: one file per registered shallow
    * clone (name = clone tableUuid, content = clone location) */
  private def leaseDir(root: String): java.nio.file.Path =
    Paths.get(root, "metadata", "clones")

  /** Table roots this table's manifest entries may carry absolute paths
    * into: its own location plus the transitive cloned-from chain (a
    * clone of a clone re-carries every upstream's absolute paths). An
    * upstream whose metadata is no longer readable simply ends that
    * branch of the walk — the lease-registration fallback still covers
    * its entries path-structurally. O(chain) metadata reads, driver-only. */
  private def knownEntryRoots(m: TableMeta): Seq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet(root)
    var frontier = m.snapshots.flatMap(_.summary.get("cloned-from"))
      .map(p => normPath(p).stripSuffix("/")).distinct
    while (frontier.nonEmpty) {
      val fresh = frontier.filterNot(seen)
      fresh.foreach(seen += _)
      frontier = fresh.flatMap { loc =>
        scala.util.Try(Meta.readJson(loc).snapshots
          .flatMap(_.summary.get("cloned-from"))).toOption.getOrElse(Nil)
      }.map(p => normPath(p).stripSuffix("/")).distinct
    }
    seen.toList
  }

  /** Grace period under which a lease file with NO readable clone
    * metadata is treated as an IN-FLIGHT clone rather than a dropped
    * one. [[shallowClone]] registers leases BEFORE publishing the
    * clone's metadata (so each source root's GC sees the lease before
    * the clone is even readable), which means a source GC running in
    * another process inside that registration→publish window observes
    * exactly what a crashed clone leaves behind: a lease with no
    * metadata. Releasing it immediately would let the GC sweep files
    * the about-to-publish clone references moments later — the same
    * silent corruption the registry prevents. The age guard mirrors
    * [[removeOrphanFiles]]' `olderThanMs` discipline: only leases older
    * than the bound are released; younger ones force the GC pass to
    * skip physical deletes under this root entirely (their retained
    * set is unknowable until the metadata publishes — a later pass,
    * milliseconds after publish in practice, resumes normal GC). */
  private def leaseGraceMs: Long = sys.props.get("graft.clone.lease.grace.ms")
    .orElse(sys.env.get("SPARK_GRAFT_CLONE_LEASE_GRACE_MS"))
    .flatMap(_.toLongOption).getOrElse(10L * 60 * 1000)

  /** Normalized absolute file paths under this table's root that registered
    * LIVE clones still reference — the set [[expireSnapshots]] and
    * [[removeOrphanFiles]] must never physically delete — plus an IN-FLIGHT
    * flag. A lease whose clone metadata is gone is released here ONLY once it
    * is older than [[leaseGraceMs]] (clone dropped, or crashed before
    * publishing); a YOUNGER metadata-less lease is an in-flight clone racing
    * this GC inside its registration→publish window — its retained set cannot
    * be enumerated yet, so the flag tells callers to skip ALL physical
    * deletes under this root this pass. The SAME window exists for the
    * pre-created-empty-catalog-table target shape ([[shallowClone]]
    * explicitly supports it): there the clone's metadata EXISTS but has ZERO
    * snapshots until the clone publishes, so a young zero-snapshot lease is
    * in-flight too — an aged one is a crashed-or-abandoned clone that
    * references nothing and is released exactly like an aged metadata-less
    * lease. A clone whose metadata EXISTS but cannot be read fails the GC
    * loudly — deleting files under an uninspectable clone would risk silent
    * corruption, the exact failure this registry exists to prevent. O(live
    * clone manifests) driver work, no Spark job. */
  private def cloneRetainedFiles(): (Set[String], Boolean) = {
    val dir = leaseDir(location)
    if (!Files.isDirectory(dir)) return (Set.empty, false)
    val listing = Files.list(dir)
    val leases = try listing.iterator().asScala.toList finally listing.close()
    var inFlight = false
    val retained = leases.flatMap { lf =>
      // two GC processes may race here: the other one releasing this
      // lease between our list() and read is ITS conclusion that the
      // clone is gone — adopt it (skip) rather than failing routine
      // maintenance on the vanished file
      val leaseBytes =
        try Files.readAllBytes(lf)
        catch { case _: java.nio.file.NoSuchFileException => null }
      if (leaseBytes == null) Nil else {
      val cloneLoc = new String(leaseBytes,
        java.nio.charset.StandardCharsets.UTF_8).trim
      def ageMs: Long =
        try System.currentTimeMillis() - Files.getLastModifiedTime(lf).toMillis
        catch { case _: java.nio.file.NoSuchFileException => Long.MaxValue }
      // no metadata, or a pre-created EMPTY catalog-table target whose
      // clone snapshot has not published yet: the same
      // registration→publish window, the same age-guarded verdict
      val cm = Meta.currentVersion(cloneLoc).map(_ => Meta.readJson(cloneLoc))
      if (cm.forall(_.snapshots.isEmpty)) {
        if (ageMs >= leaseGraceMs) Files.deleteIfExists(lf) // dropped/crashed — released
        else inFlight = true // registered, not yet published — LIVE
        Nil
      } else cm.get.snapshots.flatMap(s => Meta.readEntries(cloneLoc, s))
        .map(e => entryPath(cloneLoc, e.path)).filter(_.startsWith(s"$root/"))
      }
    }.toSet
    (retained, inFlight)
  }

  private def setRef(name: String, at: Option[Long], isBranch: Boolean): Unit =
    committer.publish { m =>
      val sid = at.orElse(m.refs.get("main").map(_.snapshotId))
        .getOrElse(throw new IllegalStateException("empty table"))
      m.copy(refs = m.refs + (name -> RefMeta(sid, isBranch)))
    }

  /** Roll `main` back to an earlier snapshot (the Iceberg
    * rollback-to-snapshot operation): only the ref moves — history is
    * preserved, so time travel to the rolled-back-over snapshots keeps
    * working until they expire, and the next append diverges from the
    * restored snapshot. */
  def rollbackTo(snapshotId: Long): Unit =
    committer.publish { m =>
      val headId = m.refs.get("main").map(_.snapshotId)
        .getOrElse(throw new IllegalStateException("empty table"))
      require(m.ancestorsOf(headId)(snapshotId),
        s"snapshot $snapshotId is not an ancestor of main — cannot roll back to it")
      m.copy(refs = m.refs + ("main" -> RefMeta(snapshotId, isBranch = true)))
    }

  /** Fast-forward branch `ref` to the head of branch `from` — the publish
    * step of write-audit-publish: stage writes on an audit branch, verify
    * them there, then move main atomically. Requires `ref`'s head to be an
    * ancestor of `from`'s head (a true fast-forward, never a silent merge). */
  def fastForward(ref: String, from: String): Unit =
    committer.publish { m =>
      val srcHead = m.refs.get(from)
        .getOrElse(throw new IllegalArgumentException(s"no ref '$from'")).snapshotId
      require(m.refs.get(ref).forall(_.isBranch), s"'$ref' is a tag, not a branch")
      m.refs.get(ref).map(_.snapshotId).foreach { dst =>
        require(m.ancestorsOf(srcHead)(dst),
          s"$ref head $dst is not an ancestor of $from head $srcHead — not a fast-forward")
      }
      m.copy(refs = m.refs + (ref -> RefMeta(srcHead, isBranch = true)))
    }

  /** bin-pack compaction: rewrite ALL live data into ~targetMB files,
    * applying outstanding deletes and materializing lineage; one replace
    * commit drops every old data/delete file from the manifest */
  def compact(targetMB: Int = 128, branch: String = "main"): SnapshotMeta = {
    val (snapId, seq) = nextIds()
    val m = meta
    val snap = m.head(branch).getOrElse(return commit("replace", branch, Nil, Set.empty, snapId, seq))
    val entries = Meta.readEntries(location, snap)
    val totalBytes = entries.filter(_.fileType == "data").map(_.sizeBytes).sum
    val n = math.max(1, (totalBytes / (targetMB.toLong << 20)).toInt)
    val all = scan(withLineage = true, ref = Some(branch))
      .withColumnRenamed("_last_updated_sequence_number", "_last_seq")
    val out = writeDataFiles(all, snapId, seq, repartitionTo = Some(n))
    val removed = entries.map(e => entryPath(location, e.path)).toSet
    commit("replace", branch, out, removed, snapId, seq)
  }

  /** Partial bin-pack: rewrite ONLY data files smaller than
    * `smallerThanMB`, leaving right-sized files untouched — the
    * steady-state maintenance mode at scale, where full-table rewrites
    * are not an option. Outstanding deletes on the rewritten files are
    * applied and lineage is materialized; untouched files (and the
    * delete files still guarding them) carry forward. */
  def compactSmallFiles(smallerThanBytes: Long = 32L << 20, targetMB: Int = 128,
      branch: String = "main"): SnapshotMeta = {
    val (snapId, seq) = nextIds()
    val m = meta
    val snap = m.head(branch).getOrElse(
      return commit("replace", branch, Nil, Set.empty, snapId, seq))
    val plan = planScan(m, snap, m.currentSchemaId, Nil)
      .keep(_.sizeBytes < smallerThanBytes)
    val small = plan.data
    if (small.size < 2)
      return commit("replace", branch, Nil, Set.empty, snapId, seq)
    val paths = small.map(e => entryPath(location, e.path)).toSet
    val totalBytes = small.map(_.sizeBytes).sum
    val n = math.max(1, (totalBytes / (targetMB.toLong << 20)).toInt)
    val rows = readForRewrite(plan, paths)
    val out = writeDataFiles(rows, snapId, seq, repartitionTo = Some(n))
    commit("replace", branch, out, paths, snapId, seq)
  }

  /** Iceberg `rewrite_position_delete_files` analog: merge accumulated
    * position-delete files into ONE deduplicated file, dropping
    * tombstones whose target data file no longer exists (rewritten or
    * compacted away) — MoR read cost grows with EVERY live delete file,
    * so steady-state MoR tables need this like data files need
    * compaction. The rows come from the row reader with the scan's
    * legacy-target rule, so the rewritten file persists raw paths (this
    * rewrite is the legacy-table migration); Spark picks the join
    * against the live files. Equality deletes are NOT merged: their
    * semantics depend on each file's sequence number. */
  def rewriteDeleteFiles(branch: String = "main"): SnapshotMeta = {
    val (snapId, seq) = nextIds()
    val m = meta
    val entries = headEntries(m, branch)
    val pds = entries.filter(_.fileType == "posdel")
    if (pds.size < 2)
      return commit("rewrite-deletes", branch, Nil, Set.empty, snapId, seq)
    val live = entries.filter(_.fileType == "data").map(e => entryPath(location, e.path))
    val merged = deletes.liveOnly(deletes.positionRows(m, live, pds, Nil).get.distinct(), live)
    val removed = pds.map(e => entryPath(location, e.path)).toSet
    val entry = writeDeletes(merged, "posdel", snapId, seq)
    // no tombstone survived: the merged file would be referenced by nothing
    val added = if (entry.rowCount > 0) Seq(entry)
      else { GraftTable.deleteTree(Paths.get(deletes.dir(entry.path))); Nil }
    // removals are overlay entries only — complete (all-data) segments
    // cannot hold one, so the empty touched set skips them all unread
    commit("rewrite-deletes", branch, added, removed, snapId, seq,
      touched = Some(Set.empty))
  }

  /** Iceberg `rewrite_manifests` analog: coalesce the head snapshot's
    * manifest segments into partition-clustered SHARDS (plus one overlay
    * segment when delete files are live — [[writeCoalesced]]) in a
    * METADATA-ONLY commit (no data file moves). Steady-state commits keep
    * metadata O(change) by carrying parent segments forward; after many
    * small commits this rewrite restores bounded-read pruning, and the
    * per-shard partition stats keep partition-scoped commits O(touched)
    * on the far side of the rewrite. */
  def rewriteManifests(branch: String = "main"): SnapshotMeta = {
    val (snapId, seq) = nextIds()
    commit("rewrite-manifests", branch, Nil, Set.empty, snapId, seq,
      coalesceSegments = true)
  }

  /** expire snapshots older than `olderThanMs` that no ref points to;
    * physically deletes orphaned manifests/data/delete files.
    * `retainLast` (Iceberg's retain_last analog) always keeps at least
    * the N most recent snapshots regardless of age — the guard that
    * stops an aggressive age policy from erasing all rollback history.
    * Returns (#snapshots expired, #files deleted). */
  def expireSnapshots(olderThanMs: Long, retainLast: Int = 1): (Int, Int) = {
    var drop = List.empty[SnapshotMeta]
    // publish the trimmed metadata FIRST: if a concurrent commit wins the
    // version race we must not have deleted files its state still references
    val keep = committer.publish { m =>
      val refHeads = m.refs.values.map(_.snapshotId).toSet
      val recent = m.snapshots.sortBy(-_.timestampMs)
        .take(math.max(retainLast, 1)).map(_.snapshotId).toSet
      val (k, d) = m.snapshots.partition(s =>
        refHeads(s.snapshotId) || recent(s.snapshotId) ||
          s.timestampMs >= olderThanMs)
      drop = d
      if (d.isEmpty) m else m.copy(snapshots = k)
    }.snapshots
    if (drop.isEmpty) return (0, 0)
    val keptFiles = keep.flatMap(s => Meta.readEntries(location, s))
      .map(e => entryPath(location, e.path)).toSet
    val dropped = drop.flatMap(s => Meta.readEntries(location, s))
      .map(e => entryPath(location, e.path)).toSet
    // Never physically delete files OUTSIDE the table location: add_files
    // registers the user's external parquet in place (absolute paths), and
    // expiring the import snapshot after a compaction/overwrite must not
    // destroy source data the table never wrote (Iceberg's add_files carries
    // the same gc caveat). Such entries are merely dropped from metadata.
    // files a registered live shallow clone still references are LEASED:
    // dropped from this table's metadata as usual, but never physically
    // deleted — the clone's reads stay correct after routine source
    // maintenance (removeOrphanFiles honors the same leases). An
    // in-flight lease (registered, metadata not yet published) retains
    // an unknowable set: skip physical deletes entirely this pass —
    // the files the trimmed metadata orphaned fall to a later
    // removeOrphanFiles once the lease resolves.
    val (leased, inFlightClone) = cloneRetainedFiles()
    val orphans =
      if (inFlightClone) Set.empty[String]
      else (dropped -- keptFiles).filter(_.startsWith(root + "/")) -- leased
    // delete-file entries point at parquet directories — remove recursively
    orphans.foreach(p => GraftTable.deleteTree(Paths.get(p)))
    // segments are SHARED across snapshots (commits carry parent segments
    // by reference): only delete those no surviving snapshot points at
    val keptSegs = keep.flatMap(_.manifests).toSet
    drop.flatMap(_.manifests).distinct.filterNot(keptSegs).foreach(seg =>
      Files.deleteIfExists(Paths.get(location, seg)))
    (drop.size, orphans.size)
  }

  /** Structured Streaming SOURCE over the table: tails newly committed
    * data files as an append-only stream. Built on Spark's file-stream
    * source pointed at the table's data/ tree (recursive lookup, hidden
    * `_temporary` job dirs excluded by Spark's path filter), so each new
    * snapshot's files become micro-batch input exactly once per
    * checkpoint; the physical field-id columns align to the CURRENT
    * schema at stream start.
    *
    * Contract (the classic lakehouse streaming-tail caveats):
    *  - append-only: MoR deletes/updates do NOT retract already-emitted
    *    rows (a streaming source cannot retract);
    *  - compaction REWRITES rows into new files and would re-emit them —
    *    pause tailing across compactions or dedupe downstream by key;
    *  - schema is fixed at stream start (files from older schema versions
    *    null-fill added columns, like the batch path);
    *  - the tail is FILE-driven, not manifest-driven: data files left by
    *    a commit that lost the optimistic race (or crashed before
    *    publishing) are visible to the stream even though no snapshot
    *    references them — run [[removeOrphanFiles]] before starting a
    *    tail, and prefer the manifest-driven [[scanIncremental]] when
    *    exact snapshot semantics matter. */
  def readStream(maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val m = Meta.readJson(location)
    val schema = m.currentSchema
    Files.createDirectories(Paths.get(location, "data"))
    val physSchema = StructType(
      schema.fields.map(f => StructField(phys(f), sparkType(f.dtype))))
    val reader = spark.readStream
      .schema(physSchema)
      .option("recursiveFileLookup", "true")
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(s"$location/data")
      .select(schema.fields.map(f =>
        col(phys(f)).cast(sparkType(f.dtype)).as(f.name)): _*)
  }

  /** Remove files no snapshot references — the leak path at scale: a
    * commit that wrote its data files and then lost the optimistic race
    * (or crashed before publishing) leaves them on storage forever, and
    * at streaming commit rates that compounds. A first-level entry under
    * data/ or deletes/ is orphaned when no manifest path of ANY live
    * snapshot points into it AND it is older than `olderThanMs` (the age
    * guard keeps in-flight writes safe). Returns units removed. */
  def removeOrphanFiles(olderThanMs: Long): Int = {
    val m = Meta.readJson(location)
    // clone-leased files count as referenced: a file this table's
    // metadata no longer tracks may still back a registered live clone.
    // An in-flight lease retains an unknowable set — skip the sweep
    // entirely this pass (the clone publishes within milliseconds; the
    // next sweep proceeds normally).
    val (leased, inFlightClone) = cloneRetainedFiles()
    if (inFlightClone) return 0
    val referenced = m.snapshots
      .flatMap(s => Meta.readEntries(location, s))
      .map(e => entryPath(location, e.path)).toSet ++ leased
    var removed = 0
    Seq("data", "deletes").foreach { r =>
      val dir = Paths.get(location, r)
      if (Files.isDirectory(dir)) {
        val listing = Files.list(dir)
        val entries = try listing.iterator().asScala.toList finally listing.close()
        entries.foreach { p =>
          val norm = normPath(p.toAbsolutePath.toString)
          val inUse = referenced.exists(ref => ref == norm || ref.startsWith(norm + "/"))
          val old = Files.getLastModifiedTime(p).toMillis < olderThanMs
          if (!inUse && old) {
            GraftTable.deleteTree(p)
            removed += 1
          }
        }
      }
    }
    removed
  }

  /** metadata-only row count: when no delete files are live, the manifest
    * row counts answer COUNT(*) without launching a single task — the
    * Iceberg metadata-aggregate pushdown analog. Falls back to a real scan
    * when MoR deletes make manifest counts an overestimate. */
  def countFast(ref: String = "main"): Long = {
    val entries = liveFiles(ref)
    if (entries.exists(_.fileType != "data"))
      scan(ref = Some(ref)).count()
    else entries.filter(_.fileType == "data").map(_.rowCount).sum
  }

  /** Puffin-analog table statistics: approximate per-column NDV sketches
    * (HyperLogLog++ via approx_count_distinct) computed in ONE distributed
    * agg job over the current snapshot, persisted as stats/<snapshot>.json
    * and pointed to from table properties — the optimizer-facing companion
    * to the per-file min/max metrics in the manifests. */
  def analyze(): Map[String, Long] = {
    val m = Meta.readJson(location)
    val snap = m.head("main")
      .getOrElse(throw new IllegalStateException("empty table"))
    val sketchable = m.currentSchema.fields.filter { f =>
      val base = f.dtype.takeWhile(_ != '(')
      Set("int", "bigint", "smallint", "tinyint", "double", "float",
        "decimal", "string", "date", "timestamp", "timestamp_ntz", "boolean")(base)
    }
    if (sketchable.isEmpty) return Map.empty
    val aggs = sketchable.map(f => approx_count_distinct(col(f.name)).as(f.name))
    val row = scan().agg(aggs.head, aggs.tail: _*).collect()(0)
    val ndv = sketchable.map(f => f.name -> row.getAs[Long](f.name)).toMap
    val rel = s"stats/${snap.snapshotId}.json"
    Files.createDirectories(Paths.get(location, "stats"))
    Files.writeString(Paths.get(location, rel), Meta.mapper.writeValueAsString(ndv))
    committer.publish(m2 => m2.copy(properties = m2.properties + ("stats.current" -> rel)))
    ndv
  }

  /** read back the current NDV statistics file, if analyze() has run */
  def tableStats(): Option[Map[String, Long]] = {
    val m = Meta.readJson(location)
    m.properties.get("stats.current").map(rel =>
      Meta.mapper.readValue[Map[String, Long]](Files.readString(Paths.get(location, rel))))
  }

  /** Metadata inspection tables (the Iceberg `table$files` /
    * `$snapshots` / `$refs` analog): table state as DataFrames, also
    * reachable through SQL as `` graft.ns.`tbl$files` `` etc. */
  def metaTable(kind: String, ref: String = "main"): DataFrame = {
    import spark.implicits._
    val m = Meta.readJson(location)
    kind match {
      case "files" =>
        headEntries(m, ref).map(e => (e.path, e.fileType, e.specId, e.schemaId, e.rowCount,
            e.sizeBytes, e.sequenceNumber, e.firstRowId, e.partition))
          .toDF("path", "file_type", "spec_id", "schema_id", "row_count",
            "size_bytes", "sequence_number", "first_row_id", "partition")
      case "snapshots" =>
        m.snapshots
          .map(s => (s.snapshotId, s.parentId, s.sequenceNumber,
            new java.sql.Timestamp(s.timestampMs), s.operation, s.schemaId,
            s.manifests.mkString(","),
            s.summary.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")))
          .toDF("snapshot_id", "parent_id", "sequence_number", "committed_at",
            "operation", "schema_id", "manifests", "summary")
      case "refs" =>
        m.refs.toSeq.sortBy(_._1)
          .map { case (n, r) => (n, r.snapshotId, if (r.isBranch) "BRANCH" else "TAG") }
          .toDF("name", "snapshot_id", "type")
      case "partitions" =>
        // per-partition rollup from manifest entries — answers "how is my
        // data distributed" without reading a single data file
        headEntries(m, ref).filter(_.fileType == "data")
          .groupBy(_.partition).toSeq
          .map { case (p, fs) =>
            (p.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("/"),
              fs.size.toLong, fs.map(_.rowCount).sum, fs.map(_.sizeBytes).sum)
          }.sortBy(_._1)
          .toDF("partition", "file_count", "row_count", "size_bytes")
      case "manifests" =>
        // per-segment rollup of the head snapshot: how commit deltas have
        // accumulated, and whether a rewrite_manifests is due
        m.head(ref).map(_.manifests).getOrElse(Nil)
          .map { seg =>
            val es = Meta.readManifest(location, seg)
            (seg, es.size.toLong,
              es.count(_.fileType == "data").toLong,
              es.filter(_.fileType == "data").map(_.rowCount).sum)
          }
          .toDF("segment", "entry_count", "data_file_count", "row_count")
      case "history" =>
        // ref lineage: every snapshot with whether main's current state
        // descends from it (Iceberg's history table shape)
        val mainAnc = m.refs.get("main").map(r => m.ancestorsOf(r.snapshotId))
          .getOrElse(Set.empty[Long])
        m.snapshots
          .map(s => (new java.sql.Timestamp(s.timestampMs), s.snapshotId,
            s.parentId, mainAnc(s.snapshotId)))
          .toDF("made_current_at", "snapshot_id", "parent_id",
            "is_current_ancestor")
      case other =>
        throw new IllegalArgumentException(
          s"unknown metadata table '$other' (files|snapshots|refs|partitions|history)")
    }
  }

  /** live files of the current (or ref'd) snapshot — for specs/inspection */
  def liveFiles(ref: String = "main"): Seq[FileMeta] =
    headEntries(Meta.readJson(location), ref)

  /** the data files a read of main with `filter` plans — for specs/inspection */
  def prunedFiles(filter: String): Seq[FileMeta] =
    planRead(preds = Pruning.extract(filter, spark)).data

  // ==========================================================================
  // CHECK constraints
  // ==========================================================================

  /** Write-time CHECK constraints (the Delta `ALTER TABLE ADD CONSTRAINT`
    * shape), stored as table properties `check.<name>` = SQL predicate
    * over logical column names. Standard SQL CHECK semantics: only a
    * FALSE predicate violates — NULL passes. Adding a constraint
    * validates EXISTING live data first (one scan) and is refused if any
    * row violates, so a published constraint is always a true invariant
    * of the table. Write-path enforcement is an inline codegen'd guard
    * FUSED into the write job ([[enforceChecks]]): each incoming row
    * evaluates every predicate on its way into the parquet writer, so a
    * 100 TB append pays ZERO extra passes over the batch (no pre-write
    * validation job, no second scan) and the first violating row aborts
    * the job before the commit publishes. Aborted task files are
    * unreferenced and fall to orphan cleanup like any failed write. */
  def addConstraint(name: String, predicate: String): Unit = {
    require(name.nonEmpty && !name.contains('='),
      s"bad constraint name: '$name'")
    updateProperties(Map(s"check.$name" -> predicate))
  }

  def dropConstraint(name: String): Unit =
    updateProperties(Map.empty, Seq(s"check.$name"))

  private def checkConstraints: Seq[(String, String)] =
    meta.properties.toSeq.collect {
      case (k, v) if k.startsWith("check.") => (k.stripPrefix("check."), v)
    }.sortBy(_._1)

  /** inline write-path constraint guard (see [[addConstraint]]): a filter
    * whose condition raises from INSIDE the write job on the first
    * violating row and is identically true otherwise — raise_error is
    * never constant-folded, so the optimizer cannot drop the guard */
  private def enforceChecks(df: DataFrame, op: String): DataFrame = {
    val checks = checkConstraints
    if (checks.isEmpty) df
    else df.filter(checks.map { case (n, p) =>
      when(not(coalesce(expr(p), lit(true))),
        raise_error(concat(
          lit(s"GRAFT_CHECK '$n' violated by $op — ($p) is false for row "),
          to_json(struct(df.columns.map(col): _*)))).cast("boolean"))
        .otherwise(lit(true))
    }.reduce(_ && _))
  }

  /** `df` (logical column names, optional lineage) written as data files
    * in the current schema and spec, every CHECK constraint enforced; the
    * inline guard's raise surfaces as the typed exception. */
  private def writeChecked(df: DataFrame, op: String, snapId: Long, seq: Long): Seq[FileMeta] =
    try writeDataFiles(enforceChecks(df, op), snapId, seq)
    catch {
      case e: Throwable =>
        var c: Throwable = e
        while (c != null) {
          if (c.getMessage != null && c.getMessage.contains("GRAFT_CHECK"))
            throw new ConstraintViolationException(c.getMessage)
          c = c.getCause
        }
        throw e
    }

  /** table-property update: one metadata-only commit (version file),
    * same optimistic-concurrency path as every other metadata change.
    * This is the single chokepoint for `check.*` keys, so EVERY route
    * that can publish a constraint — [[addConstraint]], SQL
    * `ALTER TABLE ... ADD CONSTRAINT`, or a raw `SET TBLPROPERTIES` —
    * validates existing live data first (the Delta ADD CONSTRAINT rule);
    * a published constraint is always a true invariant of the table. */
  def updateProperties(set: Map[String, String], unset: Seq[String] = Nil): Unit =
    committer.publish { m =>
      set.collect { case (k, p) if k.startsWith("check.") &&
          !m.properties.get(k).contains(p) => (k.stripPrefix("check."), p)
      }.foreach { case (n, p) =>
        val bad = scan().filter(not(coalesce(expr(p), lit(true)))).count()
        if (bad > 0) throw new ConstraintViolationException(
          s"cannot add CHECK constraint '$n' ($p): " +
            s"$bad existing row(s) violate it")
      }
      m.copy(properties = m.properties ++ set -- unset)
    }

  /** distinct values of one partition field across live data files —
    * the driver-side bucket/partition directory for co-located planning */
  def partitionValues(field: String): Seq[String] =
    liveFiles().filter(_.fileType == "data")
      .flatMap(_.partition.get(field)).distinct.sorted

  /** scan restricted to the data files of ONE partition-field value (plus
    * any live delete files, which scan() applies as usual) — the unit of
    * bucket-wise co-located execution */
  def scanPartition(field: String, value: String): DataFrame =
    scanSnapshot(planRead().keep(_.partition.get(field).contains(value)), None,
      withLineage = false, withPos = false)
}

object GraftTable {

  /** parse "day(o_orderdate)" / "bucket(8, a, b)" / "truncate(4, s)" /
    * "identity(c)" (or bare "c") into a PartFieldMeta */
  def parseSpecField(s: String, schema: SchemaMeta): PartFieldMeta = {
    val call = "(\\w+)\\s*\\(([^)]*)\\)".r
    s.trim match {
      case call(fn, argStr) =>
        val args = argStr.split(",").map(_.trim).filter(_.nonEmpty).toList
        fn match {
          case "identity" => PartFieldMeta(args.head, "identity", List(schema.byName(args.head).id))
          case "year" | "month" | "day" | "hour" =>
            PartFieldMeta(s"${args.head}_$fn", fn, List(schema.byName(args.head).id))
          case "bucket" =>
            val n = args.head.toInt
            val srcs = args.tail.map(a => schema.byName(a).id)
            PartFieldMeta(s"${args.tail.mkString("_")}_bucket", "bucket", srcs, Some(n))
          case "truncate" =>
            val w = args.head.toInt
            PartFieldMeta(s"${args(1)}_trunc", "truncate", List(schema.byName(args(1)).id), Some(w))
          case other => throw new IllegalArgumentException(s"unknown transform $other")
        }
      case bare => PartFieldMeta(bare, "identity", List(schema.byName(bare).id))
    }
  }

  def create(spark: SparkSession, location: String, ddl: String,
      partitionBy: Seq[String] = Nil, properties: Map[String, String] = Map.empty,
      formatVersion: Int = 3): GraftTable = {
    require(Meta.currentVersion(location).isEmpty, s"table exists at $location")
    val st = StructType.fromDDL(ddl)
    val fields = st.fields.zipWithIndex.map { case (f, i) =>
      FieldMeta(i + 1, f.name, f.dataType.sql.toLowerCase, f.nullable)
    }.toList
    val schema = SchemaMeta(0, fields)
    val spec = PartSpecMeta(0, partitionBy.map(parseSpecField(_, schema)).toList)
    val m = TableMeta(
      formatVersion = formatVersion, tableUuid = UUID.randomUUID.toString,
      lastFieldId = fields.size, lastSchemaId = 0, lastSpecId = 0,
      lastSnapshotId = 0L, lastSequenceNumber = 0L, lastRowId = 0L,
      currentSchemaId = 0, currentSpecId = 0,
      schemas = List(schema), specs = List(spec),
      snapshots = Nil, refs = Map.empty, properties = properties)
    Committer.publishNew(location)(m)
    new GraftTable(spark, location)
  }

  def load(spark: SparkSession, location: String): GraftTable =
    new GraftTable(spark, location)

  /** Whether `p`, an analyzed plan, runs as one Spark partition,
    * judged without optimizing, planning or running it. A file relation
    * is single when it holds one file, no larger than Spark's
    * split size (its scan splits nothing and packs that file alone); a
    * projection when its child is and it holds no subquery (the optimizer
    * turns an IN, EXISTS or correlated scalar subquery into a join, whose
    * shuffle spreads the rows again). Any other plan is not. */
  private def singlePartition(p: LogicalPlan): Boolean = p match {
    case r: LogicalRelation => r.relation match {
      case fs: HadoopFsRelation if fs.bucketSpec.isEmpty =>
        val dirs = fs.location.listFiles(Nil, Nil)
        dirs.flatMap(_.files) match {
          case Seq(f) => f.getLen <= FilePartition.maxSplitBytes(fs.sparkSession, dirs)
          case _ => false
        }
      case _ => false
    }
    case proj: Project if !proj.projectList.exists(SubqueryExpression.hasSubquery) =>
      singlePartition(proj.child)
    case _ => false
  }

  /** Delete a file, or a directory with everything under it. With
    * `bestEffort`, a file that cannot be deleted is skipped and the walk
    * goes on to the rest. */
  private[graft] def deleteTree(p: java.nio.file.Path, bestEffort: Boolean = false): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(f =>
          try Files.deleteIfExists(f) catch { case _: Exception if bestEffort => false })
      finally walk.close()
    }
}
