package graft.table

import java.nio.file.Paths
import java.util.BitSet

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** How a table's delete files are read and whose rows they name — the
  * one place that decides it. Every consumer takes one of two
  * representations:
  *  - the driver decoder ([[DeleteFiles]], cached in [[Meta]]): the scan
  *    filter, `changes()` scoping and a commit's dangling-delete rule. It
  *    decodes only a delete set within the bound ([[decodable]]) and
  *    never runs a Spark job;
  *  - the row reader (Spark reads with the schemas the format fixes): the
  *    scan's anti-joins above the bound, the DV commit's existing vectors
  *    and `rewriteDeleteFiles`, which write or join through Spark anyway.
  *
  * Both apply the same two rules: a stored target names a live data file
  * by the legacy-target rule ([[resolver]]), and per target file the
  * highest-sequence vector applies (vectors of equal sequence unite).
  * Paths are raw absolute paths, the `_gf` space; `path` maps a manifest
  * path into it ([[TableScan.entryPath]]). */
private[table] final class DeleteReader(spark: SparkSession, path: String => String) {
  import DeleteReader._
  import TableScan.sparkType

  /** The directory of a delete entry. */
  def dir(rel: String): String = Paths.get(path(rel)).toAbsolutePath.toString

  /** The schema the format fixes for a delete file's kind (FORMAT.md
    * §Row-level changes). Equality keys are typed from the schema the
    * delete was written under. */
  private def deleteSchema(m: TableMeta, f: FileMeta): StructType = f.fileType match {
    case "posdel" => PosDelSchema
    case "dv" => DvSchema
    case "eqdel" =>
      val s = m.schema(f.schemaId)
      StructType(f.eqFieldIds.map(id => StructField(s"f$id", sparkType(s.byId(id).get.dtype))))
  }

  /** The legacy-target rule: a stored target names the live file it
    * equals or, for delete files written before round 15 (which stored
    * the URI-percent-encoded `_metadata.file_path`), the live file whose
    * encoding it is — unless that encoding is itself a live raw path (a
    * literal `%xx` directory name), where the stored value is trusted. */
  def resolver(live: Seq[String]): String => Option[String] = {
    val liveSet = live.toSet
    val legacy = legacyTargets(live)
    t => if (liveSet(t)) Some(t) else legacy.get(t)
  }

  private def legacyTargets(live: Seq[String]): Map[String, String] = {
    val liveSet = live.toSet
    live.flatMap { p =>
      val enc = try new java.net.URI("file", null, p, null).getRawPath
        catch { case _: Exception => p }
      if (enc != p && !liveSet(enc)) Some((enc, p)) else None
    }.toMap
  }

  /** May the driver decode `deletes`: their decoded size, estimated from
    * the manifest, is within Spark's broadcast bound (`-1` never is). A
    * position or vector file decodes to at most one bitmap a row, each at
    * most one bit per row of the largest data file of `data` (the files
    * its targets are among), and all together at most one bit per data
    * row of `data`. An equality key costs [[DeleteFiles.keyBytes]] plus,
    * for string and binary keys, the delete file's bytes on disk (entries
    * from older writers record no size; their files are measured). A
    * nested-type key, which only a join compares by `<=>`, never fits. */
  def decodable(m: TableMeta, data: => Seq[FileMeta], deletes: Seq[FileMeta]): Boolean = {
    lazy val vectors = data.map(_.rowCount / 8 + 1)
    val sizes = deletes.map(f => f.fileType match {
      case "posdel" | "dv" => Some(math.min(f.rowCount * vectors.maxOption.getOrElse(0L), vectors.sum))
      case _ =>
        val types = deleteSchema(m, f).fields.map(_.dataType).toSeq
        val nested = types.exists {
          case _: StructType | _: ArrayType | _: MapType => true
          case _ => false
        }
        val payload =
          if (!types.exists(t => t == StringType || t == BinaryType)) 0L
          else if (f.sizeBytes > 0) f.sizeBytes
          else DeleteFiles.diskBytes(dir(f.path))
        if (nested) None
        else Some(f.rowCount * DeleteFiles.keyBytes(types.size) + payload)
    })
    val bound = spark.sessionState.conf.autoBroadcastJoinThreshold
    bound >= 0 && !sizes.contains(None) && sizes.flatten.sum <= bound
  }

  /** Stored target -> deleted positions of one position or vector file
    * (several vectors for one target in one file unite), read through
    * `io` unless cached. */
  def targets(m: TableMeta, f: FileMeta, io: DriverParquet): Map[String, BitSet] = {
    val d = dir(f.path)
    Meta.cached(d, () => {
      val acc = mutable.HashMap.empty[String, BitSet]
      for (r <- DeleteFiles.rows(io, d, deleteSchema(m, f)) if !r.isNullAt(0) && !r.isNullAt(1)) {
        val bits = acc.getOrElseUpdate(r.getUTF8String(0).toString, new BitSet)
        if (f.fileType == "dv") bits.or(BitSet.valueOf(r.getBinary(1)))
        else {
          val p = r.getLong(1)
          require(p >= 0 && p <= Int.MaxValue, s"position delete $p outside [0, 2^31) in $d")
          bits.set(p.toInt)
        }
      }
      val weight = acc.iterator.map { case (t, b) => 64L + 2L * t.length + b.size / 8 }.sum
      Meta.Weighed(acc.toMap, math.max(1L, weight))
    })
  }

  /** The key tuples of one equality-delete file, normalized
    * ([[DeletedKeys.key]]), in the types it was written in. */
  def keys(m: TableMeta, f: FileMeta, io: DriverParquet): Set[Any] =
    keysIn(deleteSchema(m, f), f, io)

  private def keysIn(schema: StructType, f: FileMeta, io: DriverParquet): Set[Any] = {
    val d = dir(f.path)
    Meta.cached(d, () => {
      val types = schema.fields.map(_.dataType)
      val ks = DeleteFiles.rows(io, d, schema)
        .map(r => DeletedKeys.key(types.indices.map(i => r.get(i, types(i))))).toSet
      def payload(v: Any): Long = v match {
        case s: UTF8String => s.numBytes
        case b: ArraySeq.ofByte => b.length
        case vs: Seq[_] => vs.map(payload).sum
        case _ => 0L
      }
      Meta.Weighed(ks, math.max(1L, ks.iterator.map(k =>
        DeleteFiles.keyBytes(types.length) + payload(k)).sum))
    })
  }

  /** The delete set as one filter over a scan; None when nothing planned
    * is deleted. Positions: `NOT deleted(_gf, _gp)` over one bitmap per
    * live data file, position files united, and per file the
    * highest-sequence vector (ties unite). Equality deletes, per file:
    * `NOT (_seq < dseq AND deleted(keys))`, keys in the presented types.
    * Files not yet cached are read through `io`. */
  def deleteFilter(io: DriverParquet, m: TableMeta, presented: SchemaMeta, live: Seq[String],
      posDel: Seq[FileMeta], dvs: Seq[FileMeta], eqDels: Seq[FileMeta]): Option[Column] = {
    val resolve = resolver(live)
    def named(f: FileMeta) = targets(m, f, io).toSeq.flatMap { case (t, b) => resolve(t).map(_ -> b) }
    // cached bitmaps are shared: OR into a copy
    val bits = mutable.HashMap.empty[String, BitSet]
    def or(t: String, b: BitSet): Unit = bits(t) = bits.get(t).fold(b) { cur =>
      val c = cur.clone().asInstanceOf[BitSet]
      c.or(b)
      c
    }
    for (f <- posDel; (t, b) <- named(f)) or(t, b)
    dvs.flatMap(f => named(f).map { case (t, b) => (t, f.sequenceNumber, b) })
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
      val ks = DeleteFiles.convert(keysIn(schema, f, io), schema.fields.map(_.dataType).toSeq,
        fields.map(pf => sparkType(pf.dtype)), tz)
      if (ks.isEmpty) None
      else Some(!(col("_seq") < lit(f.sequenceNumber) && Bridge.column(KeyDeleted(
        fields.map(pf => Bridge.expression(col(pf.name))), DeletedKeys(ks)))))
    }
    (pos ++ eq).reduceOption(_ && _)
  }

  /** The paths of the position and vector entries among `overlays` whose
    * targets, resolved against the data files `data`, all lie in
    * `removed`. Entries the driver may not decode are not named. */
  def dangling(m: TableMeta, data: Seq[FileMeta], overlays: Seq[FileMeta],
      removed: Set[String]): Set[String] = {
    val named = overlays.filter(f => f.fileType == "posdel" || f.fileType == "dv")
    if (named.isEmpty || !decodable(m, data, named)) return Set.empty
    val resolve = resolver(data.map(f => path(f.path)))
    val io = new DriverParquet(spark)
    named.filter(f => targets(m, f, io).keys.forall(t => resolve(t).exists(removed)))
      .map(f => path(f.path)).toSet
  }

  /** A delete file read through Spark with its fixed schema (no
    * schema-inference job). */
  private def readDeletes(m: TableMeta, f: FileMeta): DataFrame = {
    DeleteFiles.partFiles(dir(f.path)) // an entry without part files is malformed
    spark.read.schema(deleteSchema(m, f)).parquet(path(f.path))
  }

  /** `file_path` of delete rows mapped by the legacy-target rule. */
  private def canonTargets(d: DataFrame, live: Seq[String]): DataFrame = {
    val legacy = legacyTargets(live)
    if (legacy.isEmpty) return d
    import spark.implicits._
    val mapDf = legacy.toSeq.toDF("_enc", "_rawp")
    d.join(mapDf, d("file_path") === col("_enc"), "left")
      .withColumn("file_path", coalesce(col("_rawp"), col("file_path")))
      .drop("_enc", "_rawp")
  }

  /** The rows of `files`, each tagged with its file's sequence number. */
  private def tagged(m: TableMeta, files: Seq[FileMeta]): DataFrame =
    files.map(f => readDeletes(m, f).withColumn("_dseq", lit(f.sequenceNumber)))
      .reduce(_ unionByName _)

  /** `(file_path, dv)`: the vectors that apply. Targets are mapped before
    * the highest-sequence choice, so a legacy and a raw encoding of one
    * target compete. A branch normally holds one DV file (a DV commit
    * drops those it supersedes), which needs no window and no shuffle. */
  def vectorRows(m: TableMeta, live: Seq[String], dvs: Seq[FileMeta]): Option[DataFrame] =
    if (dvs.isEmpty) None
    else Some {
      val rows = canonTargets(tagged(m, dvs), live)
      (if (dvs.size == 1) rows
       else rows.withColumn("_mx", max(col("_dseq")).over(Window.partitionBy(col("file_path"))))
         .filter(col("_dseq") === col("_mx")))
        .select(col("file_path"), col("dv"))
    }

  /** `(file_path, pos)` of position files and of the vectors that apply. */
  def positionRows(m: TableMeta, live: Seq[String], posDel: Seq[FileMeta],
      dvs: Seq[FileMeta]): Option[DataFrame] =
    (posDel.map(f => canonTargets(readDeletes(m, f), live)) ++ vectorRows(m, live, dvs).map(v =>
      v.select(col("file_path"), explode(DvPositions(col("dv"))).as("pos"))))
      .reduceOption(_ unionByName _)

  /** The rows of `d` whose `file_path` is one of `live`; Spark picks the join. */
  def liveOnly(d: DataFrame, live: Seq[String]): DataFrame = {
    import spark.implicits._
    d.join(live.toDF("_live"), d("file_path") === col("_live"), "left_semi")
  }

  /** The delete set as anti-joins: (file, pos) for positions and vectors,
    * key `<=>` and `_seq < dseq` for equality deletes. */
  def antiJoinDeletes(df0: DataFrame, m: TableMeta, presented: SchemaMeta, live: Seq[String],
      posDel: Seq[FileMeta], dvs: Seq[FileMeta], eqDels: Seq[FileMeta]): DataFrame = {
    var df = df0
    positionRows(m, live, posDel, dvs).foreach { d =>
      df = df.join(d, df("_gf") === d("file_path") && df("_gp") === d("pos"), "left_anti")
    }
    // equality deletes: only rows older than the delete
    eqDels.groupBy(_.eqFieldIds).foreach { case (ids, files) =>
      val dels = tagged(m, files)
      val cond = ids.map { id =>
        val name = presented.byId(id).map(_.name)
          .getOrElse(throw new IllegalStateException(s"eq-delete field $id dropped"))
        df(name) <=> dels(s"f$id")
      }.reduce(_ && _) && df("_seq") < dels("_dseq")
      df = df.join(dels, cond, "left_anti")
    }
    df
  }
}

private[table] object DeleteReader {
  private val PosDelSchema = StructType.fromDDL("file_path string, pos bigint")
  private val DvSchema = StructType.fromDDL("file_path string, dv binary")
  /** One shared UDF instance, so equal scans keep equal (cacheable) plans. */
  private val DvPositions = udf((b: Array[Byte]) => Dv.decode(b))
}
