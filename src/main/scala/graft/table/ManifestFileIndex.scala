package graft.table

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** A [[FileIndex]] over exactly the data files a scan planned from the
  * manifest: Spark lists nothing and reads no file status, because the
  * manifest entry already holds the path and length.
  *
  * Each file is its own partition, whose values are the per-file
  * constants merge-on-read needs: `_gf` (the file's raw absolute path —
  * the space persisted delete rows target), `_fseq` (its data sequence
  * number) and `_frid` (its first row id). Spark attaches them to every
  * row of the file, however many files it packs into one task.
  *
  * A value: two scans of the same entries compare equal, which is what
  * lets `CacheManager` serve a fresh scan from a cached one. */
private[table] final case class ManifestFileIndex(files: Seq[ManifestFileIndex.Entry])
    extends FileIndex {
  import ManifestFileIndex.PartitionSchema

  override def partitionSchema: StructType = PartitionSchema
  override def rootPaths: Seq[Path] = files.map(f => new Path(f.path))
  override def inputFiles: Array[String] = rootPaths.map(_.toUri.toString).toArray
  override def sizeInBytes: Long = files.map(_.sizeBytes).sum
  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val dirs = files.map(f => PartitionDirectory(
      InternalRow(UTF8String.fromString(f.path), f.seq, f.firstRowId),
      Array(new FileStatus(f.sizeBytes, false, 0, 0, 0, new Path(f.path)))))
    // Spark does not re-apply partition filters after the scan
    if (partitionFilters.isEmpty) dirs
    else {
      val keep = Predicate.createInterpreted(partitionFilters.reduce(And).transform {
        case a: AttributeReference =>
          val i = PartitionSchema.fieldIndex(a.name)
          BoundReference(i, PartitionSchema(i).dataType, nullable = true)
      })
      dirs.filter(d => keep.eval(d.values))
    }
  }
}

private[table] object ManifestFileIndex {
  /** One planned data file. `sizeBytes` must be the file's length:
    * parquet splits and the footer offset are planned from it. */
  final case class Entry(path: String, sizeBytes: Long, seq: Long, firstRowId: Long) {
    require(sizeBytes > 0,
      s"manifest data entry $path has sizeBytes $sizeBytes; it must be the file's length")
  }

  val PartitionSchema: StructType = StructType(Seq(
    StructField("_gf", StringType),
    StructField("_fseq", LongType),
    StructField("_frid", LongType)))
}
