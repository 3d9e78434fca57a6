package graft.table

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** What one read of a snapshot involves, from its manifest alone: the
  * entries of the segments it read (`read`; `skipped` names the segments
  * it proved it need not read) and, among them, the data files it plans.
  * Every scan, row-level commit and pruned-file listing takes its entries
  * from here, so they agree on one snapshot and one planned file set. */
private[table] final case class ScanPlan(location: String, m: TableMeta, presentedId: Int,
    read: Seq[FileMeta], skipped: Seq[String], data: Seq[FileMeta]) {
  import TableScan.entryPath
  def deletes: Seq[FileMeta] = read.filter(_.fileType != "data")
  def keep(p: FileMeta => Boolean): ScanPlan = copy(data = data.filter(p))
  def only(paths: Set[String]): ScanPlan = keep(f => paths(entryPath(location, f.path)))
  /** Partition tuples of the planned files at `paths` (raw absolute
    * paths, the `_gf` space); None when one of them is not planned. */
  def partitionsOf(paths: Set[String]): Option[Set[Map[String, String]]] = {
    val byPath = data.map(f => entryPath(location, f.path) -> f.partition).toMap
    val tuples = paths.toSeq.map(byPath.get)
    if (tuples.contains(None)) None else Some(tuples.flatten.toSet)
  }
}

/** The scan unit of a table: plans a read from the manifest and builds
  * the DataFrame of a plan. A scan is planned from the manifest alone:
  * each file group is a relation over a [[ManifestFileIndex]] of the
  * planned entries, so Spark neither lists files nor infers a schema.
  * The index gives every row its file's constants (`_gf` path, `_fseq`
  * sequence number, `_frid` first row id) as partition values, and
  * Spark's `_metadata.row_index` gives its position. Merge-on-read
  * deletes key on (`_gf`, position) or on equality-key values, and are
  * read through [[DeleteReader]]. */
private[table] final class TableScan(spark: SparkSession, location: String,
    deletes: DeleteReader) {
  import TableScan._

  /** Resolve the snapshot a read sees (one metadata read, so pruning and
    * scanning cannot straddle a commit) and plan it. */
  def planRead(snapshotId: Option[Long] = None, asOfTimestampMs: Option[Long] = None,
      ref: Option[String] = None, preds: Seq[Pruning.Pred] = Nil): ScanPlan = {
    // reads always see the freshest published state but do NOT move the
    // handle's commit base — that is what lets a commit detect conflicts
    val m = Meta.readJson(location)
    val snap = (snapshotId, asOfTimestampMs, ref) match {
      case (Some(i), _, _) => Some(m.snapshot(i))
      case (_, Some(t), _) =>
        val c = m.snapshots.filter(_.timestampMs <= t)
        if (c.isEmpty) throw new IllegalArgumentException(s"no snapshot at or before $t")
        Some(c.maxBy(_.timestampMs))
      case (_, _, r) => m.head(r.getOrElse("main"))
    }
    // Iceberg semantics: current reads present the CURRENT schema; explicit
    // time travel presents the schema the snapshot was written under
    val timeTravel = snapshotId.isDefined || asOfTimestampMs.isDefined
    snap match {
      case None => ScanPlan(location, m, m.currentSchemaId, Nil, Nil, Nil)
      case Some(s) =>
        planScan(m, s, if (timeTravel) s.schemaId else m.currentSchemaId, preds)
    }
  }

  /** The one planning step: a snapshot plus pruning predicates to planned
    * data and delete entries.
    * A segment whose complete stats prove no entry can match is never read
    * (round 15) — planning I/O is O(matching shards), not O(table
    * segments). Overlay segments are incomplete by construction, so every
    * delete entry loads; a skipped entry would have failed the per-entry
    * [[Pruning.fileMatches]] anyway ([[Pruning.segmentScanSkippable]]), so
    * the planned file set is the same with or without skipping. */
  def planScan(m: TableMeta, snap: SnapshotMeta, presentedId: Int,
      preds: Seq[Pruning.Pred]): ScanPlan = {
    val (skipped, kept) = snap.manifests.partition(seg =>
      Pruning.segmentScanSkippable(m, snap.manifestStats.get(seg), preds))
    val read = kept.flatMap(Meta.readManifest(location, _))
    ScanPlan(location, m, presentedId, read, skipped,
      read.filter(f => f.fileType == "data" && Pruning.fileMatches(f, m, preds)))
  }

  def emptyDf(schema: SchemaMeta, lineage: Boolean, pos: Boolean): DataFrame = {
    val st = StructType(
      schema.fields.map(f => StructField(f.name, sparkType(f.dtype))) ++
        (if (lineage) Seq(StructField("_row_id", LongType),
          StructField("_last_updated_sequence_number", LongType)) else Nil) ++
        (if (pos) Seq(StructField("_gf", StringType), StructField("_gp", LongType)) else Nil))
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], st)
  }

  /** The DataFrame of a plan: its data files read through manifest-built
    * relations, its delete files applied, `filter` on top. */
  def scanSnapshot(plan: ScanPlan, filter: Option[String],
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
        entryPath(location, f.path), f.sizeBytes, f.sequenceNumber, f.firstRowId)))
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
    val deleteSet = posDel ++ dvs ++ eqDels
    if (deleteSet.nonEmpty) {
      val livePaths = dataFiles.map(f => entryPath(location, f.path))
      // a delete file decodes whole, whatever the scan planned: size it
      // against every data file of the snapshot, skipped segments too
      def snapshotData = (plan.read ++ plan.skipped.flatMap(Meta.readManifest(location, _)))
        .filter(_.fileType == "data")
      df = if (deletes.decodable(m, snapshotData, deleteSet))
        deletes.deleteFilter(m, presented, livePaths, posDel, dvs, eqDels)
          .map(df.filter).getOrElse(df)
      else deletes.antiJoinDeletes(df, m, presented, livePaths, posDel, dvs, eqDels)
    }

    val out = presented.fields.map(f => col(f.name)) ++
      (if (withLineage) Seq(col("_rid").as("_row_id"),
        col("_seq").as("_last_updated_sequence_number")) else Nil) ++
      (if (withPos) Seq(col("_gf"), col("_gp")) else Nil)
    df = df.select(out: _*)
    filter.map(f => df.filter(expr(f))).getOrElse(df)
  }
}

/** The naming rules every unit of a table shares. */
private[table] object TableScan {
  /** A field's physical parquet column name. */
  def phys(f: FieldMeta): String = s"f${f.id}"

  /** parsed types by DDL string (and the session's TIMESTAMP meaning):
    * every scan, write and delete schema resolves its fields here, and
    * `DataType` values are immutable */
  private val parsedTypes = new java.util.concurrent.ConcurrentHashMap[(String, DataType), DataType]

  def sparkType(ddl: String): DataType =
    parsedTypes.computeIfAbsent((ddl, SQLConf.get.timestampType),
      _ => StructType.fromDDL(s"x $ddl").head.dataType)

  def normPath(s: String): String = s.replaceFirst("^file:/+", "/")

  /** An entry's raw absolute path (a manifest path is under `location`
    * unless absolute): the `_gf` space delete rows target, and the key
    * every write, removal and lookup by path uses. */
  def entryPath(location: String, rel: String): String =
    normPath(if (rel.startsWith("/")) rel else s"$location/$rel")
}
