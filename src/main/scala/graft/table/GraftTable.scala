package graft.table

import java.nio.file.{Files, Paths}
import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

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
  def decode(bytes: Array[Byte]): Array[Long] = {
    val bs = java.util.BitSet.valueOf(bytes)
    val out = mutable.ArrayBuffer[Long]()
    var i = bs.nextSetBit(0)
    while (i >= 0) { out += i.toLong; i = bs.nextSetBit(i + 1) }
    out.toArray
  }
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
  * A scan is planned from the manifest alone: each file group is a
  * relation over a [[ManifestFileIndex]] of the planned entries, so Spark
  * neither lists files nor infers a schema. The index gives every row its
  * file's constants (`_gf` path, `_fseq` sequence number, `_frid` first
  * row id) as partition values, and Spark's `_metadata.row_index` gives
  * its position. Merge-on-read deletes key on (`_gf`, position) or on
  * equality-key values. A delete set within Spark's broadcast bound is
  * decoded on the driver from cached delete files into one scan-stage
  * filter (see DeleteFilter.scala); a larger one becomes anti-joins whose
  * strategy Spark picks. Delete files are read with the schemas the
  * format fixes.
  */
class GraftTable(val spark: SparkSession, val location: String) {

  var meta: TableMeta = Meta.readJson(location)
  private def refresh(): TableMeta = { meta = Meta.readJson(location); meta }

  private def phys(f: FieldMeta): String = s"f${f.id}"
  private def sparkType(ddl: String): DataType =
    StructType.fromDDL(s"x $ddl").head.dataType
  private def normPath(s: String): String = s.replaceFirst("^file:/+", "/")
  private def normCol(c: Column): Column = regexp_replace(c, "^file:/+", "/")
  /** Canonicalize PERSISTED delete-row targets into raw-path space.
    * Delete files written before round 15 stored the URI-percent-encoded
    * `_metadata.file_path`; later files store the raw manifest path. For
    * any live data file whose legacy encoding differs from
    * its raw path, remap the encoded form back to raw — UNLESS the
    * encoded form is itself a live raw path (a literal `%xx` directory
    * name), where decoding is ambiguous and the stored value must be
    * trusted as raw. Unescapable tables (the common case) build an empty
    * dictionary and pass through untouched. */
  private def legacyTargets(livePaths: Seq[String]): Map[String, String] = {
    val liveSet = livePaths.toSet
    livePaths.flatMap { p =>
      val enc = try new java.net.URI("file", null, p, null).getRawPath
        catch { case _: Exception => p }
      if (enc != p && !liveSet(enc)) Some((enc, p)) else None
    }.toMap
  }
  private def canonTargets(d: DataFrame, livePaths: Seq[String]): DataFrame = {
    val legacy = legacyTargets(livePaths)
    if (legacy.isEmpty) return d
    import spark.implicits._
    val mapDf = legacy.toSeq.toDF("_enc", "_rawp")
    d.join(mapDf, d("file_path") === col("_enc"), "left")
      .withColumn("file_path", coalesce(col("_rawp"), col("file_path")))
      .drop("_enc", "_rawp")
  }
  private def abs(rel: String): String =
    if (rel.startsWith("/")) rel else s"$location/$rel"
  private def deleteDir(rel: String): String =
    Paths.get(normPath(abs(rel))).toAbsolutePath.toString

  /** The schema the format fixes for a delete file's kind (FORMAT.md
    * §Row-level changes). Equality keys are typed from the schema the
    * delete was written under. */
  private def deleteSchema(m: TableMeta, f: FileMeta): StructType = f.fileType match {
    case "posdel" => GraftTable.PosDelSchema
    case "dv" => GraftTable.DvSchema
    case "eqdel" =>
      val s = m.schema(f.schemaId)
      StructType(f.eqFieldIds.map(id =>
        StructField(s"f$id", sparkType(s.byId(id).get.dtype))))
  }

  /** Read a delete file with its fixed schema — no schema-inference job. */
  private def readDeletes(m: TableMeta, f: FileMeta): DataFrame = {
    DeleteFiles.partFiles(deleteDir(f.path)) // an entry without part files is malformed
    spark.read.schema(deleteSchema(m, f)).parquet(abs(f.path))
  }

  /** The newest vector per target file from DV rows tagged with their
    * file's `_dseq`. A DV commit drops the entries it supersedes, so a
    * branch normally holds one DV file, which needs no window (and no
    * shuffle); overlapping files keep the highest-sequence vector. */
  private def latestDvs(rows: DataFrame, files: Int): DataFrame =
    if (files == 1) rows
    else rows.withColumn("_mx", max(col("_dseq")).over(Window.partitionBy(col("file_path"))))
      .filter(col("_dseq") === col("_mx"))

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
      fileSubset: Option[Set[String]] = None,
      preds: Seq[Pruning.Pred] = Nil): DataFrame =
    scanSnapshot(planRead(snapshotId, asOfTimestampMs, ref,
      preds ++ filter.map(Pruning.extract(_, spark)).getOrElse(Nil), fileSubset),
      filter, withLineage, withPos)

  /** What one read of a snapshot involves, from its manifest alone: the
    * entries of the segments it read (`read`; `skipped` names the segments
    * it proved it need not read) and, among them, the data files it plans.
    * Every scan, row-level commit and pruned-file listing takes its entries
    * from here, so they agree on one snapshot and one planned file set. */
  private case class ScanPlan(m: TableMeta, presentedId: Int, read: Seq[FileMeta],
      skipped: Seq[String], data: Seq[FileMeta]) {
    def deletes: Seq[FileMeta] = read.filter(_.fileType != "data")
    def keep(p: FileMeta => Boolean): ScanPlan = copy(data = data.filter(p))
    def only(paths: Set[String]): ScanPlan = keep(f => paths(normPath(abs(f.path))))
    /** Partition tuples of the planned files at `paths` (raw absolute
      * paths, the `_gf` space); None when one of them is not planned. */
    def partitionsOf(paths: Set[String]): Option[Set[Map[String, String]]] = {
      val byPath = data.map(f => normPath(abs(f.path)) -> f.partition).toMap
      val tuples = paths.toSeq.map(byPath.get)
      if (tuples.contains(None)) None else Some(tuples.flatten.toSet)
    }
  }

  /** Resolve the snapshot a read sees (one metadata read, so pruning and
    * scanning cannot straddle a commit) and plan it. */
  private def planRead(snapshotId: Option[Long] = None, asOfTimestampMs: Option[Long] = None,
      ref: Option[String] = None, preds: Seq[Pruning.Pred] = Nil,
      fileSubset: Option[Set[String]] = None): ScanPlan = {
    // reads always see the freshest published state but do NOT move this
    // writer's commit base — that is what lets commit() detect conflicts
    val m = Meta.readJson(location)
    val snap = resolveSnapshot(m, snapshotId, asOfTimestampMs, ref)
    // Iceberg semantics: current reads present the CURRENT schema; explicit
    // time travel presents the schema the snapshot was written under
    val timeTravel = snapshotId.isDefined || asOfTimestampMs.isDefined
    snap match {
      case None => ScanPlan(m, m.currentSchemaId, Nil, Nil, Nil)
      case Some(s) =>
        planScan(m, s, if (timeTravel) s.schemaId else m.currentSchemaId, preds, fileSubset)
    }
  }

  private def resolveSnapshot(m: TableMeta, id: Option[Long],
      ts: Option[Long], ref: Option[String]): Option[SnapshotMeta] =
    (id, ts, ref) match {
      case (Some(i), _, _) => Some(m.snapshot(i))
      case (_, Some(t), _) =>
        val c = m.snapshots.filter(_.timestampMs <= t)
        if (c.isEmpty) throw new IllegalArgumentException(s"no snapshot at or before $t")
        Some(c.maxBy(_.timestampMs))
      case (_, _, r) => m.head(r.getOrElse("main"))
    }

  /** The one planning step: a snapshot plus pruning predicates (and an
    * optional subset of raw file paths) to planned data and delete entries.
    * A segment whose complete stats prove no entry can match is never read
    * (round 15) — planning I/O is O(matching shards), not O(table
    * segments). Overlay segments are incomplete by construction, so every
    * delete entry loads; a skipped entry would have failed the per-entry
    * [[Pruning.fileMatches]] anyway ([[Pruning.segmentScanSkippable]]), so
    * the planned file set is the same with or without skipping. */
  private def planScan(m: TableMeta, snap: SnapshotMeta, presentedId: Int,
      preds: Seq[Pruning.Pred], fileSubset: Option[Set[String]]): ScanPlan = {
    val (skipped, kept) = snap.manifests.partition(seg =>
      Pruning.segmentScanSkippable(m, snap.manifestStats.get(seg), preds))
    val read = kept.flatMap(Meta.readManifest(location, _))
    val plan = ScanPlan(m, presentedId, read, skipped,
      read.filter(f => f.fileType == "data" && Pruning.fileMatches(f, m, preds)))
    fileSubset.map(plan.only).getOrElse(plan)
  }

  private def emptyDf(schema: SchemaMeta, lineage: Boolean, pos: Boolean): DataFrame = {
    val st = StructType(
      schema.fields.map(f => StructField(f.name, sparkType(f.dtype))) ++
        (if (lineage) Seq(StructField("_row_id", LongType),
          StructField("_last_updated_sequence_number", LongType)) else Nil) ++
        (if (pos) Seq(StructField("_gf", StringType), StructField("_gp", LongType)) else Nil))
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], st)
  }

  /** The DataFrame of a plan: its data files read through manifest-built
    * relations, its delete files applied, `filter` on top. */
  private def scanSnapshot(plan: ScanPlan, filter: Option[String],
      withLineage: Boolean, withPos: Boolean): DataFrame = {
    val m = plan.m
    val presented = m.schema(plan.presentedId)
    val dataFiles = plan.data
    if (dataFiles.isEmpty) {
      val e = emptyDf(presented, withLineage, withPos)
      return filter.map(f => e.filter(expr(f))).getOrElse(e)
    }

    val posDel = plan.deletes.filter(_.fileType == "posdel")
    val dvs = plan.deletes.filter(_.fileType == "dv")
    val eqDels = plan.deletes.filter(_.fileType == "eqdel")
    val needFileMeta = withLineage || eqDels.nonEmpty
    // file/position identity cols are only materialized when a consumer
    // exists (deletes, lineage, rewrite) — a plain read stays a pure
    // pushdown scan with no metadata-column or join overhead
    val needPos = withPos || needFileMeta || posDel.nonEmpty || dvs.nonEmpty

    // per-schema file groups: read with that schema's physical layout, align.
    // name-mapped (imported) files form their own group per schema and are
    // read by LOGICAL column name — Iceberg's name-mapping analog. Each group
    // is a relation over exactly its manifest entries: no listing, and the
    // per-file constants arrive as partition values (ManifestFileIndex).
    val groups = dataFiles.groupBy(f => (f.schemaId, f.nameMapped)).toSeq
      .map { case ((sid, mapped), files) =>
      val gs = m.schema(sid)
      val pname = (f: FieldMeta) => if (mapped) f.name else phys(f)
      val physSchema = StructType(
        gs.fields.map(f => StructField(pname(f), sparkType(f.dtype))) ++
          Seq(StructField("_row_id", LongType), StructField("_last_seq", LongType)))
      val index = ManifestFileIndex(files.map(f => ManifestFileIndex.Entry(
        normPath(abs(f.path)), f.sizeBytes, f.sequenceNumber, f.firstRowId)))
      val df = Bridge.ofRows(spark, LogicalRelation(HadoopFsRelation(index,
        index.partitionSchema, physSchema, None, new ParquetFileFormat, Map.empty)(spark)))
      val aligned = presented.fields.map { pf =>
        gs.byId(pf.id) match {
          case Some(gf) => col(pname(gf)).cast(sparkType(pf.dtype)).as(pf.name)
          case None => pf.initialDefault match {
            case Some(d) => expr(d).cast(sparkType(pf.dtype)).as(pf.name)
            case None => lit(null).cast(sparkType(pf.dtype)).as(pf.name)
          }
        }
      }
      val pos = col("_metadata.row_index")
      val extras =
        (if (needPos) Seq(col("_gf"), pos.as("_gp")) else Nil) ++
        (if (needFileMeta) Seq(coalesce(col("_last_seq"), col("_fseq")).as("_seq"),
          coalesce(col("_row_id"), col("_frid") + pos).as("_rid")) else Nil)
      df.select(aligned ++ extras: _*)
    }
    var df = groups.reduce(_ unionByName _)

    // merge-on-read deletes: a delete set within Spark's broadcast bound
    // is decoded on the driver into one scan filter; a larger one keeps
    // the anti-joins, with the join strategy left to Spark
    val deletes = posDel ++ dvs ++ eqDels
    if (deletes.nonEmpty) {
      val livePaths = dataFiles.map(f => normPath(abs(f.path)))
      val bound = spark.sessionState.conf.autoBroadcastJoinThreshold
      // a delete file decodes whole, whatever the scan planned: size it
      // against every data file of the snapshot, skipped segments too
      def snapshotData = (plan.read ++ plan.skipped.flatMap(Meta.readManifest(location, _)))
        .filter(_.fileType == "data")
      df = if (bound >= 0 && decodedBytes(m, snapshotData, deletes).exists(_ <= bound))
        deleteFilter(m, presented, livePaths, posDel, dvs, eqDels)
          .map(df.filter).getOrElse(df)
      else antiJoinDeletes(df, m, presented, livePaths, posDel, dvs, eqDels)
    }

    val out = presented.fields.map(f => col(f.name)) ++
      (if (withLineage) Seq(col("_rid").as("_row_id"),
        col("_seq").as("_last_updated_sequence_number")) else Nil) ++
      (if (withPos) Seq(col("_gf"), col("_gp")) else Nil)
    df = df.select(out: _*)
    filter.map(f => df.filter(expr(f))).getOrElse(df)
  }

  /** Decoded size of a delete set, estimated from the manifest; None when
    * the driver cannot decode it (a nested-type key, which only a join
    * compares by `<=>`). A position or vector file decodes to at most one
    * bitmap a row, each at most one bit per row of the largest data file
    * of the snapshot (`data`), and all together at most one bit per data
    * row of the snapshot (its targets are the snapshot's). An equality
    * key costs [[DeleteFiles.keyBytes]] plus, for string and binary keys,
    * the delete file's bytes on disk (entries from older writers record
    * no size; their files are measured). */
  private def decodedBytes(m: TableMeta, data: => Seq[FileMeta],
      deletes: Seq[FileMeta]): Option[Long] = {
    lazy val vectors = data.map(_.rowCount / 8 + 1)
    val sizes = deletes.map(f => f.fileType match {
      case "posdel" | "dv" => Some(math.min(f.rowCount * vectors.max, vectors.sum))
      case _ =>
        val types = deleteSchema(m, f).fields.map(_.dataType).toSeq
        val nested = types.exists {
          case _: StructType | _: ArrayType | _: MapType => true
          case _ => false
        }
        val payload =
          if (!types.exists(t => t == StringType || t == BinaryType)) 0L
          else if (f.sizeBytes > 0) f.sizeBytes
          else DeleteFiles.diskBytes(deleteDir(f.path))
        if (nested) None
        else Some(f.rowCount * DeleteFiles.keyBytes(types.size) + payload)
    })
    if (sizes.contains(None)) None else Some(sizes.flatten.sum)
  }

  /** The delete set as one filter over the scan, decoded on the driver
    * from the (cached) delete files; None when nothing planned is deleted.
    * Positions: `NOT deleted(_gf, _gp)` over one bitmap per live data
    * file — stored targets canonicalized, the highest-sequence vector per
    * file kept (ties unite). Equality deletes, per file:
    * `NOT (_seq < dseq AND deleted(keys))`, keys in the presented types. */
  private def deleteFilter(m: TableMeta, presented: SchemaMeta, livePaths: Seq[String],
      posDel: Seq[FileMeta], dvs: Seq[FileMeta], eqDels: Seq[FileMeta]): Option[Column] = {
    val live = livePaths.toSet
    val legacy = legacyTargets(livePaths)
    def targets(f: FileMeta): Seq[(String, java.util.BitSet)] =
      DeleteFiles.positions(spark, deleteDir(f.path), deleteSchema(m, f), f.fileType == "dv")
        .toSeq.flatMap { case (t, b) =>
          (if (live(t)) Some(t) else legacy.get(t)).map(_ -> b) }
    // cached bitmaps are shared: OR into a copy
    val bits = mutable.HashMap.empty[String, java.util.BitSet]
    def or(t: String, b: java.util.BitSet): Unit = bits.updateWith(t) {
      case None => Some(b)
      case Some(cur) =>
        val c = cur.clone().asInstanceOf[java.util.BitSet]
        c.or(b)
        Some(c)
    }
    for (f <- posDel; (t, b) <- targets(f)) or(t, b)
    dvs.flatMap(f => targets(f).map { case (t, b) => (t, f.sequenceNumber, b) })
      .groupBy(_._1).foreach { case (t, vs) =>
        val top = vs.map(_._2).max
        vs.foreach { case (_, s, b) => if (s == top) or(t, b) }
      }
    val pos = if (bits.isEmpty) None else Some(!Bridge.column(PositionDeleted(
      Bridge.expression(col("_gf")), Bridge.expression(col("_gp")),
      DeletedPositions(bits.map { case (t, b) => UTF8String.fromString(t) -> b }.toMap))))
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val eq = eqDels.flatMap { f =>
      val fields = f.eqFieldIds.map(id => presented.byId(id)
        .getOrElse(throw new IllegalStateException(s"eq-delete field $id dropped")))
      val schema = deleteSchema(m, f)
      val keys = DeleteFiles.convert(DeleteFiles.keys(spark, deleteDir(f.path), schema),
        schema.fields.map(_.dataType).toSeq, fields.map(pf => sparkType(pf.dtype)), tz)
      if (keys.isEmpty) None
      else Some(!(col("_seq") < lit(f.sequenceNumber) && Bridge.column(KeyDeleted(
        fields.map(pf => Bridge.expression(col(pf.name))), DeletedKeys(keys)))))
    }
    (pos ++ eq).reduceOption(_ && _)
  }

  /** The delete set as anti-joins: (file, pos) for positions and vectors,
    * key `<=>` and `_seq < dseq` for equality deletes. */
  private def antiJoinDeletes(df0: DataFrame, m: TableMeta, presented: SchemaMeta,
      livePaths: Seq[String], posDel: Seq[FileMeta], dvs: Seq[FileMeta],
      eqDels: Seq[FileMeta]): DataFrame = {
    var df = df0
    // stored targets pass through canonTargets so legacy URI-encoded
    // values (pre-round-15 writers) keep applying after the raw-path move
    val posPart = posDel.map(f => canonTargets(readDeletes(m, f), livePaths))
    val dvPart = if (dvs.isEmpty) None else Some {
      // canonicalize BEFORE the latest-per-file window so a legacy and a
      // raw encoding of the same target land in one window partition
      val raw = canonTargets(dvs.map(f => readDeletes(m, f)
        .withColumn("_dseq", lit(f.sequenceNumber))).reduce(_ unionByName _), livePaths)
      latestDvs(raw, dvs.size)
        .select(col("file_path"), explode(GraftTable.DvPositions(col("dv"))).as("pos"))
    }
    (posPart ++ dvPart).reduceOption(_ unionByName _).foreach { d =>
      df = df.join(d, df("_gf") === d("file_path") && df("_gp") === d("pos"), "left_anti")
    }
    // equality deletes: only rows older than the delete
    eqDels.groupBy(_.eqFieldIds).foreach { case (ids, files) =>
      val dels = files.map(f => readDeletes(m, f)
        .withColumn("_dseq", lit(f.sequenceNumber))).reduce(_ unionByName _)
      val cond = ids.map { id =>
        val name = presented.byId(id).map(_.name)
          .getOrElse(throw new IllegalStateException(s"eq-delete field $id dropped"))
        df(name) <=> dels(s"f$id")
      }.reduce(_ && _) && df("_seq") < dels("_dseq")
      df = df.join(dels, cond, "left_anti")
    }
    df
  }

  // ==========================================================================
  // Write path
  // ==========================================================================

  /** logical → physical: select every current-schema field, cast, rename */
  private def toPhysical(df: DataFrame, schema: SchemaMeta): DataFrame = {
    val cols = schema.fields.map(f => col(f.name).cast(sparkType(f.dtype)).as(phys(f)))
    val lineage = Seq("_row_id", "_last_seq").filter(df.columns.contains)
      .map(c => col(c).cast(LongType))
    df.select(cols ++ lineage: _*)
  }

  /** Write `physDf` (physical column names, optional materialized lineage)
    * as new data files under data/s<snapId>, partitioned per `specId`.
    * Returns manifest entries (stats collected in ONE distributed agg job
    * over the freshly written files — never a driver loop). */
  private def writeDataFiles(physDf: DataFrame, snapId: Long, seq: Long,
      schemaId: Int, specId: Int, repartitionTo: Option[Int] = None): Seq[FileMeta] = {
    val m = meta
    val spec = m.spec(specId)
    val schema = m.schema(schemaId)
    val rel = s"data/s$snapId-${UUID.randomUUID.toString.take(8)}"
    val dir = abs(rel)
    // INT96 timestamps carry no usable footer statistics — write micros for
    // graft data files, restoring the session's setting afterwards (other
    // writers in the session must keep their own timestamp physical type)
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val prevTs = spark.conf.getOption(tsKey)
    val pcols = spec.fields.map(pf =>
      Transforms.column(pf, pf.sourceIds.map(id => col(s"f$id")),
        pf.sourceIds.map(id => schema.byId(id).get.dtype)).as(s"_p_${pf.name}"))
    var out = physDf.select(physDf.columns.map(col) ++ pcols: _*)
    // sort-order clustering (table property "write.sort" = "colA,colB"):
    // range-partition + sort within files so per-file min/max ranges are
    // disjoint — manifest pruning then skips all but the matching files.
    // The Iceberg sort-order analog; at 100 TB this is what turns a
    // point/range query from a full scan into a handful of file reads.
    val sortCols = m.properties.get("write.sort").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .map(n => col(s"f${schema.byName(n).id}"))
    // z-order clustering ("write.zorder" = "colA,colB"): cluster on the
    // interleaved z-value instead of a linear sort, so per-file min/max
    // ranges stay tight on EVERY listed dimension (see [[ZOrder]])
    val zSrcCols = m.properties.get("write.zorder").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .map(n => col(s"f${schema.byName(n).id}"))
    // explicit clustering width ("write.target-partitions") — an explicit
    // partition count also opts the range shuffle out of AQE coalescing,
    // which would otherwise merge small clustered writes back into one file
    val tgtParts = repartitionTo
      .orElse(m.properties.get("write.target-partitions").map(_.toInt))
    if (pcols.nonEmpty) {
      val pRefs = spec.fields.map(pf => col(s"_p_${pf.name}"))
      out = out.repartition(pRefs: _*)
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

  /** current state pinned to its metadata version: validators read THIS
    * version and publishers write at exactly version+1, so an interleaved
    * publication becomes a create-new conflict, never a lost update */
  private def pinned(): (TableMeta, Int) = {
    val v = Meta.currentVersion(location)
      .getOrElse(throw new IllegalArgumentException(s"not a graft table: $location"))
    (Meta.readJsonVersion(location, v), v)
  }

  /** Optimistic-concurrency commit: if another writer advanced the table
    * since this operation started, additive commits (appends, MoR delete
    * files — nothing physically stamped with a sequence number and nothing
    * removed) REBASE onto the new head; rewrites and physically-stamped
    * commits throw [[CommitConflictException]] for the caller to retry.
    * The new metadata publishes at exactly the validated version + 1
    * (create-new), so a commit that raced past validation still conflicts
    * at publication instead of overwriting the other writer's state. */
  private def commit(op: String, branch: String, added: Seq[FileMeta],
      removedPaths: Set[String], snapId0: Long, seq0: Long,
      rebaseable: Boolean = false,
      coalesceSegments: Boolean = false,
      // partition-scoped commits pass their touched tuples: parent
      // segments PROVEN disjoint (SnapshotMeta.manifestStats) are then
      // carried by reference without being read — the commit's manifest
      // I/O becomes O(touched partitions), not O(table files)
      touched: Option[Set[Map[String, String]]] = None): SnapshotMeta = {
    val (fresh, vBase) = pinned()
    var snapId = snapId0
    var seq = seq0
    var entries = added
    val m =
      // Same head snapshot: base the commit on the PINNED state, not the
      // handle's cached meta — metadata-only commits (partition-spec or
      // schema evolution, refs, properties) bump the version WITHOUT
      // adding a snapshot, and publishing from the cached meta would
      // silently roll them back. The entries keep their own
      // schemaId/specId (spec-per-file), so files written under the older
      // layout stay correct.
      if (fresh.lastSnapshotId == meta.lastSnapshotId) { meta = fresh; fresh }
      else {
        if (!rebaseable || removedPaths.nonEmpty)
          throw new CommitConflictException(
            s"table advanced to snapshot ${fresh.lastSnapshotId} (base was " +
              s"${meta.lastSnapshotId}) and '$op' is not rebaseable — retry")
        // Iceberg validateDataFilesExist analog: a rebased DELETE-file commit
        // (posdel/dv positions, eqdel sequence comparisons) is only valid if
        // every data file of its commit base survived the concurrent commits.
        // If a compaction/CoW rewrite replaced files, the delete would target
        // paths (or sequence numbers) that no longer exist and silently
        // delete nothing — the deleted rows would resurface.
        if (added.exists(_.fileType != "data")) {
          val baseData = meta.head(branch).toSeq
            .flatMap(p => Meta.readEntries(location, p))
            .filter(_.fileType == "data").map(_.path).toSet
          val freshData = fresh.head(branch).toSeq
            .flatMap(p => Meta.readEntries(location, p))
            .filter(_.fileType == "data").map(_.path).toSet
          val missing = baseData -- freshData
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
          val freshPaths = fresh.head(branch).toSeq
            .flatMap(p => Meta.readEntries(location, p))
            .map(e => normPath(abs(e.path))).toSet
          val dups = added.map(e => normPath(abs(e.path))).filter(freshPaths)
          if (dups.nonEmpty) throw new CommitConflictException(
            s"cannot rebase 'add-files': already registered concurrently: " +
              dups.take(3).mkString(", ") +
              (if (dups.size > 3) s" (+${dups.size - 3} more)" else ""))
        }
        snapId = fresh.lastSnapshotId + 1
        seq = fresh.lastSequenceNumber + 1
        entries = added.map(e => e.copy(sequenceNumber = seq))
        meta = fresh
        fresh
      }
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
    val isRemoved = (e: FileMeta) => removedPaths(normPath(abs(e.path)))
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
    val next = m.copy(
      lastSnapshotId = snapId, lastSequenceNumber = seq, lastRowId = rid,
      snapshots = m.snapshots :+ snap,
      refs = m.refs + (branch -> RefMeta(snapId, isBranch = true)))
    // publish BEFORE adopting: a conflicted handle must keep published state
    Meta.writeJsonAt(next, location, vBase + 1)
    meta = next
    snap
  }

  private def nextIds(): (Long, Long) =
    (meta.lastSnapshotId + 1, meta.lastSequenceNumber + 1)

  /** INSERT: append df (logical column names) as new data files. */
  def append(df: DataFrame, branch: String = "main"): SnapshotMeta = {
    val (snapId, seq) = nextIds()
    val files = translatingChecks {
      writeDataFiles(toPhysical(enforceChecks(df, "append"), meta.currentSchema),
        snapId, seq, meta.currentSchemaId, meta.currentSpecId)
    }
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
    val live = m.head(branch).toSeq.flatMap(s => Meta.readEntries(location, s))
      .map(e => normPath(abs(e.path))).toSet
    val dups = entries.map(e => normPath(abs(e.path))).filter(live)
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
    val files = translatingChecks {
      writeDataFiles(toPhysical(enforceChecks(df, "overwrite"), meta.currentSchema),
        snapId, seq, meta.currentSchemaId, meta.currentSpecId)
    }
    val prior = meta.head(branch).toSeq
      .flatMap(s => Meta.readEntries(location, s))
      .map(e => normPath(abs(e.path))).toSet
    commit("overwrite", branch, files, prior, snapId, seq)
  }

  /** Dynamic partition overwrite (Iceberg's replacePartitions): atomically
    * replace ONLY the partitions the incoming data touches — the idempotent
    * daily-backfill primitive ("recompute day X and swap it in") that a
    * full [[overwrite]] over-deletes for. One snapshot: the new files land,
    * and every prior data file whose partition tuple appears in the new
    * file set is dropped (with its partition-scoped delete/DV entries —
    * posdel/dv entries keyed to removed files would be dead weight).
    * Requires a partitioned table; at scale the commit is manifest-only
    * work proportional to the touched partitions, never a table rewrite. */
  def overwritePartitions(df: DataFrame, branch: String = "main"): SnapshotMeta = {
    val m0 = meta
    require(m0.spec(m0.currentSpecId).fields.nonEmpty,
      "overwritePartitions needs a partitioned table; use overwrite()")
    val (snapId, seq) = nextIds()
    val files = translatingChecks {
      writeDataFiles(toPhysical(enforceChecks(df, "overwrite-partitions"),
        m0.currentSchema), snapId, seq, m0.currentSchemaId, m0.currentSpecId)
    }
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
      .map(e => normPath(abs(e.path))).toSet
    // delete/DV entries that applied only to removed files go with them
    val removedOverlays = priorEntries
      .filter(e => e.fileType != "data" &&
        e.appliesTo.exists(p => removedData.contains(normPath(abs(p)))))
      .map(e => normPath(abs(e.path))).toSet
    commit("overwrite", branch, files, removedData ++ removedOverlays,
      snapId, seq, touched = Some(touched))
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
    mode match {
      case WriteMode.CopyOnWrite =>
        val (plan, files) = affectedFiles(cond, branch)
        if (files.isEmpty) return commit("delete", branch, Nil, Set.empty, snapId, seq)
        val keep = readForRewrite(plan, files)
          .filter(!coalesce(expr(cond), lit(false)))
        val out = writeDataFiles(toPhysical(keep, meta.currentSchema), snapId, seq,
          meta.currentSchemaId, meta.currentSpecId)
        commit("delete", branch, out, files, snapId, seq,
          touched = plan.partitionsOf(files))
      case WriteMode.MergeOnRead =>
        val hits = scan(filter = Some(cond), withPos = true, ref = Some(branch))
          .select(col("_gf").as("file_path"), col("_gp").as("pos"))
        val rel = s"deletes/pd$snapId-${UUID.randomUUID.toString.take(8)}"
        hits.write.parquet(abs(rel))
        val n = FooterStats.rowCount(abs(rel))
        val entry = FileMeta(rel, "posdel", meta.currentSpecId, meta.currentSchemaId,
          Map.empty, n, 0L, seq, Map.empty)
        commit("delete", branch, Seq(entry), Set.empty, snapId, seq, rebaseable = true)
      case WriteMode.DeletionVector =>
        val hits = scan(filter = Some(cond), withPos = true, ref = Some(branch))
          .select(col("_gf").as("file_path"), col("_gp").as("pos"))
        val m = meta
        val snapOpt = m.head(branch)
        val existing = snapOpt.toSeq
          .flatMap(s => Meta.readEntries(location, s))
          .filter(_.fileType == "dv")
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
        val old = if (existing.isEmpty) None else Some {
          val raw = existing.map(f => readDeletes(m, f)
              .withColumn("_dseq", lit(f.sequenceNumber)))
            .reduce(_ unionByName _)
          latestDvs(raw, existing.size)
            .select(col("file_path"), col("dv").as("dv_old"))
        }
        // full outer: files with no new deletes must carry their old vector
        // forward because the superseded DV entries leave the manifest below
        val vecs = old match {
          case None => newVecs
          case Some(o) => newVecs.join(o, Seq("file_path"), "full_outer")
            .select(col("file_path"), orDv(col("dv"), col("dv_old")).as("dv"))
        }
        val rel = s"deletes/dv$snapId-${UUID.randomUUID.toString.take(8)}"
        vecs.write.parquet(abs(rel))
        val n = FooterStats.rowCount(abs(rel))
        val entry = FileMeta(rel, "dv", meta.currentSpecId, meta.currentSchemaId,
          Map.empty, n, 0L, seq, Map.empty)
        // drop superseded DV entries: the latest-seq filter at read handles
        // overlap, but removing them keeps manifests lean. The removals are
        // all OVERLAY entries, which only live in incomplete (never
        // skippable) segments — so the empty touched set soundly lets the
        // commit skip every complete all-data segment unread.
        val oldPaths = existing.map(e => normPath(abs(e.path))).toSet
        commit("delete", branch, Seq(entry), oldPaths, snapId, seq,
          touched = Some(Set.empty))
    }
  }

  /** equality delete (always merge-on-read): rows whose key columns match a
    * row of `keys` are deleted, if written before this delete */
  def deleteByKeys(keys: DataFrame, branch: String = "main"): SnapshotMeta = {
    val (snapId, seq) = nextIds()
    val schema = meta.currentSchema
    val ids = keys.columns.map(n => schema.byName(n).id).toList
    val physKeys = keys.select(keys.columns.map(n =>
      col(n).cast(sparkType(schema.byName(n).dtype)).as(s"f${schema.byName(n).id}")): _*)
    val rel = s"deletes/eq$snapId-${UUID.randomUUID.toString.take(8)}"
    physKeys.write.parquet(abs(rel))
    val n = FooterStats.rowCount(abs(rel))
    val entry = FileMeta(rel, "eqdel", meta.currentSpecId, meta.currentSchemaId,
      Map.empty, n, DeleteFiles.diskBytes(deleteDir(rel)), seq, Map.empty, eqFieldIds = ids)
    commit("delete", branch, Seq(entry), Set.empty, snapId, seq, rebaseable = true)
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
        val out = translatingChecks {
          writeDataFiles(toPhysical(enforceChecks(updated, "update"), schema),
            snapId, seq, meta.currentSchemaId, meta.currentSpecId)
        }
        commit("overwrite", branch, out, files, snapId, seq,
          touched = plan.partitionsOf(files))
      case _ =>
        // MoR update = position-delete the old rows + append the new versions
        // (row ids preserved — v3 lineage survives the rewrite)
        val rows = scan(filter = Some(cond), withLineage = true, withPos = true,
          ref = Some(branch))
        val rows2 = rows.withColumnRenamed("_last_updated_sequence_number", "_last_seq")
        val dels = rows2.select(col("_gf").as("file_path"), col("_gp").as("pos"))
        val relD = s"deletes/pd$snapId-${UUID.randomUUID.toString.take(8)}"
        dels.write.parquet(abs(relD))
        val nd = FooterStats.rowCount(abs(relD))
        val delEntry = FileMeta(relD, "posdel", meta.currentSpecId, meta.currentSchemaId,
          Map.empty, nd, 0L, seq, Map.empty)
        val updated = rows2.select(schema.fields.map { f =>
          set.get(f.name) match {
            case Some(e) => expr(e).cast(sparkType(f.dtype)).as(f.name)
            case None => col(f.name)
          }
        } ++ Seq(col("_row_id"), lit(seq).as("_last_seq")): _*)
        val dataEntries = translatingChecks {
          writeDataFiles(toPhysical(enforceChecks(updated, "update"), schema),
            snapId, seq, meta.currentSchemaId, meta.currentSpecId)
        }
        commit("overwrite", branch, delEntry +: dataEntries, Set.empty, snapId, seq)
    }
  }

  /** MERGE INTO target t USING source s ON <on>
    *   WHEN MATCHED [AND matchedDelete] THEN DELETE / UPDATE SET matchedSet
    *   WHEN NOT MATCHED THEN INSERT insertValues.
    * Copy-on-write, file-scoped: only files holding matched rows are
    * rewritten; inserts append. Expressions may reference `t.` and `s.`.
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

      val rewritten: Seq[FileMeta] = if (files.isEmpty) Nil else {
        val part = readForRewrite(plan, files, withPos = true)
        val joined = part.alias("t").join(m.alias("s"),
          col("t._gf") === col("s._mf") && col("t._gp") === col("s._mp"),
          "left_outer")
        val matched = col("s._mf").isNotNull
        val base = if (matchedDelete) joined.filter(!matched) else joined
        val outRows = base.select(schema.fields.map { f =>
          matchedSet.get(f.name) match {
            case Some(e) => when(matched, expr(e).cast(sparkType(f.dtype)))
              .otherwise(col(s"t.${f.name}")).as(f.name)
            case None => col(s"t.${f.name}").as(f.name)
          }
        } ++ Seq(col("t._row_id").as("_row_id"),
          when(matched, lit(seq)).otherwise(col("t._last_seq")).as("_last_seq")): _*)
        translatingChecks {
          writeDataFiles(toPhysical(enforceChecks(outRows, "merge"), schema),
            snapId, seq, meta.currentSchemaId, meta.currentSpecId)
        }
      }
      val inserted: Seq[FileMeta] = insertValues match {
        case None => Nil
        case Some(iv) =>
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
          val rows = notMatched.select(schema.fields.map { f =>
            iv.get(f.name) match {
              case Some(e) => expr(e).cast(sparkType(f.dtype)).as(f.name)
              case None => lit(null).cast(sparkType(f.dtype)).as(f.name)
            }
          }: _*)
          // no isEmpty pre-check: that would execute the anti-join twice
          // (once to count, once to write). Write directly — an empty
          // result produces no part files — and drop zero-row entries.
          translatingChecks {
            writeDataFiles(toPhysical(enforceChecks(rows, "merge-insert"), schema),
              snapId, seq, meta.currentSchemaId, meta.currentSpecId)
          }.filter(_.rowCount > 0L)
      }
      commit("overwrite", branch, rewritten ++ inserted, files, snapId, seq,
        touched = plan.partitionsOf(files))
    } finally m.unpersist(blocking = false)
  }

  // ==========================================================================
  // Schema / spec evolution (metadata-only commits)
  // ==========================================================================

  /** Schema evolution commit: `evolve` is applied to the PINNED state (not
    * a cached or pre-read one) so two racing column changes compose instead
    * of the second silently dropping the first's edit — the loser of the
    * version CAS conflicts and can retry on fresh state. */
  private def newSchema(evolve: TableMeta => (List[FieldMeta], Int)): Unit = {
    val (m, v) = pinned()
    val (fields, lastFieldId) = evolve(m)
    val sid = m.lastSchemaId + 1
    val next = m.copy(lastSchemaId = sid, currentSchemaId = sid,
      lastFieldId = math.max(m.lastFieldId, lastFieldId),
      schemas = m.schemas :+ SchemaMeta(sid, fields))
    Meta.writeJsonAt(next, location, v + 1)
    meta = next
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

  def updateSpec(fields: Seq[PartFieldMeta]): Unit = {
    val (m, v) = pinned()
    val sid = m.lastSpecId + 1
    val next = m.copy(lastSpecId = sid, currentSpecId = sid,
      specs = m.specs :+ PartSpecMeta(sid, fields.toList))
    Meta.writeJsonAt(next, location, v + 1)
    meta = next
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
    // version, replacing the empty creation schema wholesale)
    Meta.currentVersion(target).foreach { _ =>
      require(Meta.readJson(target).snapshots.isEmpty,
        s"table exists at $target — a clone target must have no snapshots")
    }
    val m = refresh()
    val entries = m.head(branch).toSeq
      .flatMap(s => Meta.readEntries(location, s))
      .map(e => e.copy(
        path = normPath(abs(e.path)),
        appliesTo = e.appliesTo.map(p => normPath(abs(p)))))
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
    entries.flatMap(e => Seq(e.path) ++ e.appliesTo)
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
    Files.createDirectories(Paths.get(target))
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
    val cm = m.copy(tableUuid = cloneUuid,
      lastSnapshotId = 1L, snapshots = List(snap),
      refs = Map("main" -> RefMeta(1L, isBranch = true)))
    Meta.writeJson(cm, target)
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
    val seen = scala.collection.mutable.LinkedHashSet(
      normPath(location).stripSuffix("/"))
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

  /** Normalized absolute file paths under `rootPrefix` (this table's
    * location, trailing slash) that registered LIVE clones still
    * reference — the set [[expireSnapshots]] and [[removeOrphanFiles]]
    * must never physically delete — plus an IN-FLIGHT flag. A lease
    * whose clone metadata is gone is released here ONLY once it is
    * older than [[leaseGraceMs]] (clone dropped, or crashed before
    * publishing); a YOUNGER metadata-less lease is an in-flight clone
    * racing this GC inside its registration→publish window — its
    * retained set cannot be enumerated yet, so the flag tells callers
    * to skip ALL physical deletes under this root this pass. The SAME
    * window exists for the pre-created-empty-catalog-table target shape
    * ([[shallowClone]] explicitly supports it): there the clone's
    * metadata EXISTS but has ZERO snapshots until the clone publishes,
    * so a young zero-snapshot lease is in-flight too — an aged one is a
    * crashed-or-abandoned clone that references nothing and is released
    * exactly like an aged metadata-less lease. A clone
    * whose metadata EXISTS but cannot be read fails the GC loudly —
    * deleting files under an uninspectable clone would risk silent
    * corruption, the exact failure this registry exists to prevent.
    * O(live clone manifests) driver work, no Spark job. */
  private def cloneRetainedFiles(rootPrefix: String): (Set[String], Boolean) = {
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
      if (Meta.currentVersion(cloneLoc).isEmpty) {
        if (ageMs >= leaseGraceMs) Files.deleteIfExists(lf) // dropped/crashed — released
        else inFlight = true // registered, metadata not yet published — LIVE
        Nil
      } else {
        val cm = Meta.readJson(cloneLoc)
        if (cm.snapshots.isEmpty) {
          // pre-created EMPTY catalog-table target: metadata exists but the
          // clone snapshot has not published yet — same registration→publish
          // window as the metadata-less shape, same age-guarded verdict
          if (ageMs >= leaseGraceMs) Files.deleteIfExists(lf)
          else inFlight = true
          Nil
        } else cm.snapshots.flatMap(s => Meta.readEntries(cloneLoc, s))
          .flatMap(e => Seq(e.path) ++ e.appliesTo)
          .map(p => normPath(if (p.startsWith("/")) p else s"$cloneLoc/$p"))
          .filter(_.startsWith(rootPrefix))
      }
      }
    }.toSet
    (retained, inFlight)
  }

  private def setRef(name: String, at: Option[Long], isBranch: Boolean): Unit = {
    val (m, v) = pinned()
    val sid = at.orElse(m.refs.get("main").map(_.snapshotId))
      .getOrElse(throw new IllegalStateException("empty table"))
    val next = m.copy(refs = m.refs + (name -> RefMeta(sid, isBranch)))
    Meta.writeJsonAt(next, location, v + 1)
    meta = next
  }

  /** ancestor chain of `headId`; stops (rather than throws) where expired
    * snapshots have pruned the history — an expired parent simply ends
    * the known ancestry */
  private def ancestorsOf(m: TableMeta, headId: Long): Set[Long] = {
    val byId = m.snapshots.map(s => s.snapshotId -> s).toMap
    Iterator.iterate(byId.get(headId))(_.flatMap(_.parentId).flatMap(byId.get))
      .takeWhile(_.isDefined).map(_.get.snapshotId).toSet
  }

  /** Roll `main` back to an earlier snapshot (the Iceberg
    * rollback-to-snapshot operation): only the ref moves — history is
    * preserved, so time travel to the rolled-back-over snapshots keeps
    * working until they expire, and the next append diverges from the
    * restored snapshot. */
  def rollbackTo(snapshotId: Long): Unit = {
    val (m, v) = pinned()
    val headId = m.refs.get("main").map(_.snapshotId)
      .getOrElse(throw new IllegalStateException("empty table"))
    require(ancestorsOf(m, headId)(snapshotId),
      s"snapshot $snapshotId is not an ancestor of main — cannot roll back to it")
    val next = m.copy(refs = m.refs + ("main" -> RefMeta(snapshotId, isBranch = true)))
    Meta.writeJsonAt(next, location, v + 1)
    meta = next
  }

  /** Fast-forward branch `ref` to the head of branch `from` — the publish
    * step of write-audit-publish: stage writes on an audit branch, verify
    * them there, then move main atomically. Requires `ref`'s head to be an
    * ancestor of `from`'s head (a true fast-forward, never a silent merge). */
  def fastForward(ref: String, from: String): Unit = {
    val (m, v) = pinned()
    val srcHead = m.refs.get(from)
      .getOrElse(throw new IllegalArgumentException(s"no ref '$from'")).snapshotId
    require(m.refs.get(ref).forall(_.isBranch), s"'$ref' is a tag, not a branch")
    m.refs.get(ref).map(_.snapshotId).foreach { dst =>
      require(ancestorsOf(m, srcHead)(dst),
        s"$ref head $dst is not an ancestor of $from head $srcHead — not a fast-forward")
    }
    val next = m.copy(refs = m.refs + (ref -> RefMeta(srcHead, isBranch = true)))
    Meta.writeJsonAt(next, location, v + 1)
    meta = next
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
    val m = Meta.readJson(location)
    m.snapshot(fromSnapshotId) // loud error on unknown/expired checkpoint
    val toSnap = toSnapshotId.map(m.snapshot).orElse(m.head("main"))
      .getOrElse(throw new IllegalStateException("empty table"))
    val byId = m.snapshots.map(s => s.snapshotId -> s).toMap
    // ordered walk to -> from (exclusive of from)
    val chain = Iterator.iterate(Option(toSnap))(_.flatMap(_.parentId).flatMap(byId.get))
      .takeWhile(s => s.isDefined && s.get.snapshotId != fromSnapshotId)
      .map(_.get).toList
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
    val empty = emptyDf(m.schema(toSnap.schemaId), lineage = false, pos = false)
    chain.reverse.filter(s => Set("append", "add-files")(s.operation))
      .map(s => planScan(m, s, toSnap.schemaId, Nil, None)
        .keep(_.sequenceNumber == s.sequenceNumber))
      .filter(_.data.nonEmpty)
      .map(scanSnapshot(_, None, withLineage = false, withPos = false))
      .reduceOption(_ unionByName _).getOrElse(empty)
      .select(names.map(col): _*)
  }

  def changes(fromSnapshotId: Long, toSnapshotId: Option[Long] = None): DataFrame =
    changesImpl(fromSnapshotId, toSnapshotId, scoped = true)

  /** Full state-diff changelog — the oracle and safety net: scans BOTH
    * snapshots whole and full-outer-joins on `_row_id`. Correct with no
    * provenance assumptions at all, but table cost for a delta-sized
    * window. Since round 16's second pass [[changes]] never routes here
    * (equality-delete windows are stats-bounded instead of falling
    * back); it survives as the independent implementation
    * ChangesScopeSpec fuzz-pins scoped ≡ against on random op
    * sequences. */
  private[graft] def changesStateDiff(fromSnapshotId: Long,
      toSnapshotId: Option[Long] = None): DataFrame =
    changesImpl(fromSnapshotId, toSnapshotId, scoped = false)

  /** Test observability: the (before, after) file subsets the last scoped
    * [[changes]] call planned — None after the append-only fast path or
    * an explicit [[changesStateDiff]] call (the scoped path itself never
    * falls back since round 16's eq-delete stats bounding). */
  private[graft] var lastChangesScope: Option[(Set[String], Set[String])] = None

  /** File-level scoping for a row-changing CDC window (round 16): the
    * effective row set can differ between the window endpoints only via
    *  (a) data files live at `from` but not at `to` (removed in-window),
    *  (b) data files live at `to` but not at `from` (added in-window),
    *  (c) surviving data files whose delete-overlay set changed in-window
    *      (a posdel/DV added, replaced, or dropped that targets them),
    *  (d) surviving data files whose column STATS admit a key of an
    *      equality delete that changed in-window.
    * before-side = (a) ∪ (c) ∪ (d), after-side = (b) ∪ (c) ∪ (d); every
    * other file is byte-identical with an identical overlay set at both
    * ends and cannot contribute a change row. posdel/DV targets are read
    * from the (tiny) delete parquet itself — O(delete files in the
    * window), never O(table). Equality deletes (round 16, second pass)
    * have value-scoped targets with no file_path list, so (d) bounds
    * them by manifest stats instead: a survivor excluded by
    * [[Pruning.fileMatches]] under the per-column key bounds cannot hold
    * a row any deleted tuple matches. File sequence number deliberately
    * does NOT narrow (d) — a compaction-written file carries rows with
    * older `_last_seq` than its own seq, and those rows an eq delete
    * still targets. When no bound is computable (oversized key set, null
    * keys, unmappable types) (d) degrades to all survivors — still a
    * file subset, never the state-diff fallback. */
  private def deltaFileSets(m: TableMeta, from: SnapshotMeta,
      toSnap: SnapshotMeta): Option[(Set[String], Set[String])] = {
    val entFrom = Meta.readEntries(location, from)
    val entTo = Meta.readEntries(location, toSnap)
    def dataPaths(es: Seq[FileMeta]) =
      es.filter(_.fileType == "data").map(e => normPath(abs(e.path))).toSet
    def overlays(es: Seq[FileMeta]) =
      es.filterNot(_.fileType == "data").map(e => normPath(abs(e.path)) -> e).toMap
    val (dataFrom, dataTo) = (dataPaths(entFrom), dataPaths(entTo))
    val (ovFrom, ovTo) = (overlays(entFrom), overlays(entTo))
    val ovChanged = (ovFrom.keySet diff ovTo.keySet) ++ (ovTo.keySet diff ovFrom.keySet)
    val changedMeta = ovChanged.toSeq.map(p => (ovTo.get(p) orElse ovFrom.get(p)).get)
    val survivors = dataFrom intersect dataTo
    val (eqChanged, fileScoped) = changedMeta.partition(_.fileType == "eqdel")
    // posdel/DV targets that survive at both ends must scan on BOTH sides:
    // the overlay delta is exactly what deleted (or resurrected) rows in
    // them. Stored targets are raw-path space post-round-15; a legacy
    // URI-encoded value maps back by the same rule the scan applies
    val legacy = legacyTargets(survivors.toSeq)
    val touched = fileScoped.iterator.flatMap { e =>
      readDeletes(m, e).select("file_path").distinct()
        .collect().iterator.map(_.getString(0))
        .flatMap(t => if (survivors(t)) Some(t) else legacy.get(t))
    }.toSet
    // (d): survivors an in-window equality delete could touch, bounded by
    // their manifest column stats against the delete's key values — a
    // survivor excluded here provably holds no row any deleted tuple
    // matches (per-column bounds are a conservative superset of the
    // tuple-wise test, and fileMatches keeps anything without stats)
    val eqTouched: Set[String] =
      if (eqChanged.isEmpty) Set.empty
      else {
        val survivorMeta = entTo.filter(e =>
          e.fileType == "data" && survivors(normPath(abs(e.path))))
        val bounds = eqChanged.map(eqScopePreds(m, _))
        survivorMeta.filter(f => bounds.exists(ps => Pruning.fileMatches(f, m, ps)))
          .map(f => normPath(abs(f.path))).toSet
      }
    val both = touched ++ eqTouched
    Some((dataFrom.diff(dataTo) ++ both, dataTo.diff(dataFrom) ++ both))
  }

  /** Conservative per-column stat bounds for one equality-delete file:
    * `Pred(col, "in", keys)` for every key column whose collected values
    * are all non-null and representable in the stats' internal encoding.
    * Empty result = no exclusion possible (oversized key set, a null key
    * — null-safe equality matches rows min/max can't see — or a type
    * cmp() can't order): every survivor stays a candidate, which is
    * still a file subset, never a state-diff fallback. */
  // above this many keys the driver-side collect of an eq-delete file is
  // no longer "tiny metadata" — skip the bound (all survivors scan) rather
  // than ship a large key list through the planner
  private val EqScopeMaxKeys = 4096L

  private def eqScopePreds(m: TableMeta, e: FileMeta): Seq[Pruning.Pred] = {
    if (e.rowCount > EqScopeMaxKeys) return Nil
    val schema = m.schema(e.schemaId)
    val keyFields = e.eqFieldIds.flatMap(id => schema.byId(id).map(id -> _))
    if (keyFields.isEmpty) return Nil
    val rows = readDeletes(m, e)
      .select(keyFields.map { case (id, _) => col(s"f$id") }: _*).collect()
    keyFields.zipWithIndex.flatMap { case ((_, fld), i) =>
      val vs = rows.map(_.get(i)).toSeq
      if (vs.contains(null)) None
      else {
        val norm = vs.distinct.map(statValue(fld.dtype, _))
        if (norm.exists(_.isEmpty)) None
        else Some(Pruning.Pred(fld.name, "in", norm.map(_.get)))
      }
    }
  }

  /** Collected JVM value → the internal encoding [[Pruning]] compares
    * stats against (Long micros for timestamps, Int days for dates,
    * boxed numerics, String); None = not orderable against stats. */
  private def statValue(dtype: String, v: Any): Option[Any] = {
    val base = dtype.takeWhile(_ != '(')
    base match {
      case "int" | "bigint" | "smallint" | "tinyint" | "double" | "float" => v match {
        case _: Int | _: Long | _: Short | _: Byte | _: Double | _: Float => Some(v)
        case _ => None
      }
      case "decimal" => v match {
        case bd: java.math.BigDecimal => Some(org.apache.spark.sql.types.Decimal(bd))
        case _ => None
      }
      case "string" => v match { case s: String => Some(s); case _ => None }
      case "timestamp" | "timestamp_ntz" => v match {
        case inst: java.time.Instant =>
          Some(java.time.temporal.ChronoUnit.MICROS.between(java.time.Instant.EPOCH, inst))
        case ts: java.sql.Timestamp =>
          Some(java.time.temporal.ChronoUnit.MICROS.between(
            java.time.Instant.EPOCH, ts.toInstant))
        case ldt: java.time.LocalDateTime =>
          Some(java.time.temporal.ChronoUnit.MICROS.between(
            java.time.LocalDateTime.of(1970, 1, 1, 0, 0), ldt))
        case _ => None
      }
      case "date" => v match {
        case ld: java.time.LocalDate => Some(ld.toEpochDay.toInt)
        case sd: java.sql.Date => Some(sd.toLocalDate.toEpochDay.toInt)
        case _ => None
      }
      case _ => None
    }
  }

  private def changesImpl(fromSnapshotId: Long, toSnapshotId: Option[Long],
      scoped: Boolean): DataFrame = {
    val m = Meta.readJson(location)
    require(m.formatVersion >= 3, "changes() needs v3 row lineage")
    val from = m.snapshot(fromSnapshotId)
    val toSnap = toSnapshotId.map(m.snapshot).orElse(m.head("main"))
      .getOrElse(throw new IllegalStateException("empty table"))
    val names = m.schema(toSnap.schemaId).fields.map(_.name)
    val windowOps = m.snapshots.filter(s =>
      s.sequenceNumber > from.sequenceNumber &&
        s.sequenceNumber <= toSnap.sequenceNumber)
    lastChangesScope = None
    if (windowOps.forall(_.operation == "append")) {
      val base = scanSnapshot(planScan(m, toSnap, toSnap.schemaId, Nil, None)
        .keep(_.sequenceNumber > from.sequenceNumber), None, withLineage = true, withPos = false)
      return base.select(names.map(col) ++ Seq(lit("insert").as("_change_type"),
        col("_last_updated_sequence_number").as("_commit_seq")): _*)
    }
    // delta scoping: each side scans only the files that can carry a
    // change — delta cost, not table cost (the round-15 audit's last
    // table-cost-for-delta-work path, paid per micro-batch by stream CDC)
    val scope = if (scoped) deltaFileSets(m, from, toSnap) else None
    lastChangesScope = scope
    def side(s: SnapshotMeta, subset: Option[Set[String]]) =
      scanSnapshot(planScan(m, s, toSnap.schemaId, Nil, subset), None,
        withLineage = true, withPos = false)
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
    val out = writeDataFiles(toPhysical(all, m.currentSchema), snapId, seq,
      m.currentSchemaId, m.currentSpecId, repartitionTo = Some(n))
    val removed = entries.map(e => normPath(abs(e.path))).toSet
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
    val plan = planScan(m, snap, m.currentSchemaId, Nil, None)
      .keep(_.sizeBytes < smallerThanBytes)
    val small = plan.data
    if (small.size < 2)
      return commit("replace", branch, Nil, Set.empty, snapId, seq)
    val paths = small.map(e => normPath(abs(e.path))).toSet
    val totalBytes = small.map(_.sizeBytes).sum
    val n = math.max(1, (totalBytes / (targetMB.toLong << 20)).toInt)
    val rows = readForRewrite(plan, paths)
    val out = writeDataFiles(toPhysical(rows, m.currentSchema), snapId, seq,
      m.currentSchemaId, m.currentSpecId, repartitionTo = Some(n))
    commit("replace", branch, out, paths, snapId, seq)
  }

  /** Iceberg `rewrite_position_delete_files` analog: merge accumulated
    * position-delete files into ONE deduplicated file, dropping
    * tombstones whose target data file no longer exists (rewritten or
    * compacted away) — MoR read cost is an anti-join against EVERY live
    * delete file, so steady-state MoR tables need this like data files
    * need compaction. Equality deletes are NOT merged: their semantics
    * depend on each file's sequence number. */
  def rewriteDeleteFiles(branch: String = "main"): SnapshotMeta = {
    import spark.implicits._
    val (snapId, seq) = nextIds()
    val m = meta
    val snap = m.head(branch).getOrElse(
      return commit("rewrite-deletes", branch, Nil, Set.empty, snapId, seq))
    val entries = Meta.readEntries(location, snap)
    val pds = entries.filter(_.fileType == "posdel")
    if (pds.size < 2)
      return commit("rewrite-deletes", branch, Nil, Set.empty, snapId, seq)
    val liveData = entries.filter(_.fileType == "data")
      .map(e => normPath(abs(e.path)))
    val liveDf = liveData.toDF("live_path")
    // canonTargets BEFORE the distinct: a legacy URI-encoded target and
    // its raw form merge into ONE canonical row, and the rewritten file
    // persists raw paths — this rewrite is the legacy-table migration
    val merged = canonTargets(pds.map(readDeletes(m, _)).reduce(_ unionByName _), liveData)
      .distinct()
      .join(broadcast(liveDf),
        normCol(col("file_path")) === col("live_path"), "left_semi")
    val rel = s"deletes/pd$snapId-${UUID.randomUUID.toString.take(8)}"
    merged.write.parquet(abs(rel))
    val n = FooterStats.rowCount(abs(rel))
    val removed = pds.map(e => normPath(abs(e.path))).toSet
    val added =
      if (n == 0) Nil
      else Seq(FileMeta(rel, "posdel", m.currentSpecId, m.currentSchemaId,
        Map.empty, n, 0L, seq, Map.empty))
    // removals are overlay entries only — complete (all-data) segments
    // cannot hold one, so the empty touched set skips them all unread
    commit("rewrite-deletes", branch, added, removed, snapId, seq,
      touched = Some(Set.empty))
  }

  /** deterministic manifest clustering: data entries sorted by partition
    * spec + partition values, so a coalesced segment groups files of the
    * same partition together — pruning reads become sequential runs */
  private def clusterEntries(es: Seq[FileMeta]): Seq[FileMeta] =
    es.sortBy(e => (e.fileType, e.specId,
      e.partition.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("/"),
      e.path))

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
    val sorted = clusterEntries(data)
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
    val (m, v) = pinned()
    val refHeads = m.refs.values.map(_.snapshotId).toSet
    val recent = m.snapshots.sortBy(-_.timestampMs)
      .take(math.max(retainLast, 1)).map(_.snapshotId).toSet
    val (keep, drop) = m.snapshots.partition(s =>
      refHeads(s.snapshotId) || recent(s.snapshotId) ||
        s.timestampMs >= olderThanMs)
    if (drop.isEmpty) return (0, 0)
    val keptFiles = keep.flatMap(s => Meta.readEntries(location, s))
      .map(e => normPath(abs(e.path))).toSet
    val dropped = drop.flatMap(s => Meta.readEntries(location, s))
      .map(e => normPath(abs(e.path))).toSet
    // Never physically delete files OUTSIDE the table location: add_files
    // registers the user's external parquet in place (absolute paths), and
    // expiring the import snapshot after a compaction/overwrite must not
    // destroy source data the table never wrote (Iceberg's add_files carries
    // the same gc caveat). Such entries are merely dropped from metadata.
    val root = normPath(location).stripSuffix("/") + "/"
    // files a registered live shallow clone still references are LEASED:
    // dropped from this table's metadata as usual, but never physically
    // deleted — the clone's reads stay correct after routine source
    // maintenance (removeOrphanFiles honors the same leases). An
    // in-flight lease (registered, metadata not yet published) retains
    // an unknowable set: skip physical deletes entirely this pass —
    // the trimmed metadata still publishes, and the files it orphaned
    // fall to a later removeOrphanFiles once the lease resolves.
    val (leased, inFlightClone) = cloneRetainedFiles(root)
    val orphans =
      if (inFlightClone) Set.empty[String]
      else (dropped -- keptFiles).filter(_.startsWith(root)) -- leased
    // publish the trimmed metadata FIRST: if a concurrent commit wins the
    // version race we must not have deleted files its state still references
    val next = m.copy(snapshots = keep)
    Meta.writeJsonAt(next, location, v + 1)
    meta = next
    // delete-file entries point at parquet directories — remove recursively
    orphans.foreach { p =>
      val path = Paths.get(p)
      if (Files.isDirectory(path))
        Files.walk(path).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
      else Files.deleteIfExists(path)
    }
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
    val (leased, inFlightClone) =
      cloneRetainedFiles(normPath(location).stripSuffix("/") + "/")
    if (inFlightClone) return 0
    val referenced = m.snapshots
      .flatMap(s => Meta.readEntries(location, s))
      .map(e => normPath(abs(e.path))).toSet ++ leased
    var removed = 0
    Seq("data", "deletes").foreach { r =>
      val root = Paths.get(location, r)
      if (Files.isDirectory(root)) {
        val listing = Files.list(root)
        val entries = try listing.iterator().asScala.toList finally listing.close()
        entries.foreach { p =>
          val norm = normPath(p.toAbsolutePath.toString)
          val inUse = referenced.exists(ref => ref == norm || ref.startsWith(norm + "/"))
          val old = Files.getLastModifiedTime(p).toMillis < olderThanMs
          if (!inUse && old) {
            if (Files.isDirectory(p)) {
              val walk = Files.walk(p)
              val files = try {
                walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
                  .iterator().asScala.toList
              } finally walk.close()
              files.foreach(Files.deleteIfExists(_))
            } else Files.deleteIfExists(p)
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
    val m = Meta.readJson(location)
    val fromSeq = m.snapshot(fromSnapshotId).sequenceNumber
    val end = toSnapshotId.map(m.snapshot)
      .orElse(m.head("main"))
      .getOrElse(throw new IllegalStateException("empty table"))
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
    val rewrites = m.snapshots.filter(s =>
      ancestorsOf(m, end.snapshotId)(s.snapshotId) &&
        s.sequenceNumber > fromSeq && s.sequenceNumber <= end.sequenceNumber &&
        rewritesData(s))
    require(rewrites.isEmpty,
      s"scanIncremental window contains ${rewrites.size} data-file-rewriting " +
        s"snapshot(s) (${rewrites.map(_.operation).distinct.mkString(",")}: " +
        "compaction or copy-on-write delete/update/overwrite) whose " +
        "re-sequenced files would corrupt the delta; use appendsBetween() " +
        "or changes()")
    scanSnapshot(planScan(m, end, end.schemaId, Nil, None)
      .keep(_.sequenceNumber > fromSeq), None, withLineage = false, withPos = false)
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
    Files.writeString(Paths.get(location, rel),
      org.json4s.jackson.Serialization.write(ndv)(Meta.formats))
    val (m2, v) = pinned()
    val next = m2.copy(properties = m2.properties + ("stats.current" -> rel))
    Meta.writeJsonAt(next, location, v + 1)
    meta = next
    ndv
  }

  /** read back the current NDV statistics file, if analyze() has run */
  def tableStats(): Option[Map[String, Long]] = {
    val m = Meta.readJson(location)
    m.properties.get("stats.current").map { rel =>
      org.json4s.jackson.Serialization.read[Map[String, Long]](
        Files.readString(Paths.get(location, rel)))(Meta.formats,
        implicitly[Manifest[Map[String, Long]]])
    }
  }

  /** Metadata inspection tables (the Iceberg `table$files` /
    * `$snapshots` / `$refs` analog): table state as DataFrames, also
    * reachable through SQL as `` graft.ns.`tbl$files` `` etc. */
  def metaTable(kind: String, ref: String = "main"): DataFrame = {
    import spark.implicits._
    val m = Meta.readJson(location)
    kind match {
      case "files" =>
        m.head(ref).map(s => Meta.readEntries(location, s)).getOrElse(Nil)
          .map(e => (e.path, e.fileType, e.specId, e.schemaId, e.rowCount,
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
        m.head(ref).map(s => Meta.readEntries(location, s)).getOrElse(Nil)
          .filter(_.fileType == "data")
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
        val mainAnc = m.refs.get("main").map(r => ancestorsOf(m, r.snapshotId))
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
  def liveFiles(ref: String = "main"): Seq[FileMeta] = {
    val m = Meta.readJson(location)
    m.head(ref).map(s => Meta.readEntries(location, s)).getOrElse(Nil)
  }

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

  /** surface the inline guard's raise as the typed exception */
  private def translatingChecks[T](body: => T): T =
    try body catch {
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
  def updateProperties(set: Map[String, String], unset: Seq[String] = Nil): Unit = {
    val (m, v) = pinned()
    set.collect { case (k, p) if k.startsWith("check.") &&
        !m.properties.get(k).contains(p) => (k.stripPrefix("check."), p)
    }.foreach { case (n, p) =>
      val bad = scan().filter(not(coalesce(expr(p), lit(true)))).count()
      if (bad > 0) throw new ConstraintViolationException(
        s"cannot add CHECK constraint '$n' ($p): " +
          s"$bad existing row(s) violate it")
    }
    val next = m.copy(properties = m.properties ++ set -- unset)
    Meta.writeJsonAt(next, location, v + 1)
    meta = next
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

  private val PosDelSchema = StructType.fromDDL("file_path string, pos bigint")
  private val DvSchema = StructType.fromDDL("file_path string, dv binary")
  /** One shared UDF instance, so equal scans keep equal (cacheable) plans. */
  private val DvPositions = udf((b: Array[Byte]) => Dv.decode(b))

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
    Files.createDirectories(Paths.get(location))
    Meta.writeJson(m, location)
    new GraftTable(spark, location)
  }

  def load(spark: SparkSession, location: String): GraftTable =
    new GraftTable(spark, location)
}
