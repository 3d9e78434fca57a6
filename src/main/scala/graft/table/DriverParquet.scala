package graft.table

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFooterReader, ParquetOptions, ParquetReadSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Parquet files read on the driver by Spark's vectorized reader, with no
  * Spark job: the one driver-side reader of the delete decoder and of a
  * scan's driver leaf. It reads a file the way Spark's `ParquetFileFormat`
  * does — the session's parquet flags, the datetime-rebase and INT96
  * settings resolved per file from its footer and the session — and
  * builds its Hadoop configuration once, on its first file. */
private[table] final class DriverParquet(spark: SparkSession) {
  private val sql = spark.sessionState.conf

  private lazy val conf = {
    val c = spark.sessionState.newHadoopConf()
    c.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    c.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sql.sessionLocalTimeZone)
    Seq(SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_BINARY_AS_STRING,
      SQLConf.PARQUET_INT96_AS_TIMESTAMP, SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
      SQLConf.LEGACY_PARQUET_NANOS_AS_LONG)
      .foreach(e => c.setBoolean(e.key, sql.getConf(e)))
    c
  }
  private lazy val options = new ParquetOptions(Map.empty[String, String], sql)

  /** Every row of the parquet file at `path` (`length` bytes) in `schema`,
    * followed by the constant `partition` values of `partitionSchema`, in
    * file order. A row is valid only during its call of `each`. */
  def foreach(path: String, length: Long, schema: StructType,
      partitionSchema: StructType = new StructType(), partition: InternalRow = InternalRow.empty,
      capacity: Int = sql.parquetVectorizedReaderBatchSize)(each: InternalRow => Unit): Unit = {
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    val file = new Path(new java.io.File(path).toURI)
    val opened = ParquetFooterReader.openFileAndReadFooter(conf,
      PartitionedFile(InternalRow.empty, SparkPath.fromPath(file), 0, length, Array.empty, 0, length,
        Map.empty), true)
    val meta = opened.footer.getFileMetaData
    val lookup = (k: String) => meta.getKeyValueMetaData.get(k)
    val datetime = DataSourceUtils.datetimeRebaseSpec(lookup, options.datetimeRebaseModeInRead)
    val int96 = DataSourceUtils.int96RebaseSpec(lookup, options.int96RebaseModeInRead)
    val convertTz =
      if (sql.isParquetINT96TimestampConversion && !meta.getCreatedBy.startsWith("parquet-mr"))
        DateTimeUtils.getZoneId(sql.sessionLocalTimeZone)
      else null
    val reader = new VectorizedParquetRecordReader(convertTz, datetime.mode.toString,
      datetime.timeZone, int96.mode.toString, int96.timeZone, false, capacity)
    // the reader owns the opened stream once initialized
    try reader.initialize(new FileSplit(file, 0, length, Array.empty[String]),
      new TaskAttemptContextImpl(conf, new TaskAttemptID()),
      Some(opened.inputFile), Some(opened.inputStream), Some(opened.footer))
    catch { case e: Throwable => opened.inputStream.close(); throw e }
    try {
      reader.initBatch(partitionSchema, partition)
      while (reader.nextBatch()) {
        val it = reader.resultBatch().rowIterator()
        while (it.hasNext) each(it.next())
      }
    } finally reader.close()
  }
}
