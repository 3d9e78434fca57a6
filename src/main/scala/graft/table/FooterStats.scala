package graft.table

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, DecimalLogicalTypeAnnotation, StringLogicalTypeAnnotation, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

/** Per-file statistics from parquet FOOTERS, read on the driver — no Spark
  * job, no data re-read. This is how a commit stays O(files) instead of
  * O(bytes): after the write job finishes, collecting row counts, sizes,
  * per-column min/max/nullCount and partition values costs one footer
  * round-trip per file (a few KB each). The stat string encodings match
  * what [[Pruning]] compares against: unix micros for timestamps, epoch
  * days for dates, plain decimal strings for numerics, raw strings for
  * text (values over 120 chars are TRUNCATED Iceberg-style rather than
  * dropped: 16-char prefix as the min — a prefix sorts <= the value, so
  * it is a valid lower bound — and a prefix with its last code unit
  * incremented as the max, strictly above everything sharing the
  * prefix; a text-heavy corpus thus keeps pruning on its text column).
  * Unknown/unsupported column types simply carry no stats — pruning
  * treats that as "keep the file". */
object FooterStats {

  /** stat strings longer than this are truncated (was: dropped) */
  private val MaxStatLen = 120
  /** truncated-bound prefix width, matching Iceberg's default
    * write.metadata.metrics truncate(16) */
  private val TruncLen = 16

  /** valid UPPER bound for all strings starting with the 16-unit prefix:
    * bump the rightmost incrementable UTF-16 unit and cut there. None if
    * every unit is already ￿ (no finite bound exists — drop). The
    * bound lives in String.compareTo (code-unit) order, the same order
    * [[Pruning.cmp]] uses, so surrogate artifacts cannot unsound it. */
  private[graft] def truncUpper(s: String): Option[String] = {
    val p = s.substring(0, TruncLen).toCharArray
    var i = p.length - 1
    while (i >= 0 && p(i) == Character.MAX_VALUE) i -= 1
    if (i < 0) None
    else Some(new String(p, 0, i) + (p(i) + 1).toChar)
  }

  private val hconf = new Configuration()

  /** A footer reader over `p`, its read options built from `hconf`:
    * opening a file without options constructs a fresh `Configuration`,
    * re-parsing Hadoop's XML defaults (~9 ms) per file. The options are
    * built per reader because closing a reader releases their codec
    * factory. */
  private def open(p: Path): ParquetFileReader = ParquetFileReader.open(
    HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p.toString), hconf),
    HadoopReadOptions.builder(hconf).build())

  /** every .parquet regular file under `root`, with the walk stream CLOSED
    * after materialization (a leaked walk holds a directory handle) */
  private def parquetFiles(root: Path): Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .toSeq
    finally walk.close()
  }

  /** total row count of every parquet file under a directory — one footer
    * read per file, no Spark job (used for delete-file manifest entries) */
  def rowCount(dirAbs: String): Long = {
    val root = Paths.get(dirAbs)
    if (!Files.isDirectory(root)) return 0L
    parquetFiles(root).map { p =>
      val r = open(p)
      try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      finally r.close()
    }.sum
  }

  /** driver-side max of a timestamp column in unix MICROS across every
    * parquet file in `pathAbs` (file or directory) — one footer read per
    * file, no Spark job launched (the countFast pattern applied to event
    * time). Handles MILLIS/MICROS/NANOS annotations — the generations
    * events.ts has shipped as; NANOS truncates toward zero exactly like
    * the `ts div 1000` read normalization in [[graft.Tables]]. None if
    * any file lacks usable stats for the column (caller falls back to a
    * scan). */
  def maxTimestampMicros(pathAbs: String, column: String): Option[Long] = {
    val root = Paths.get(pathAbs)
    val files =
      if (Files.isRegularFile(root)) Seq(root)
      else if (!Files.isDirectory(root)) return None
      else parquetFiles(root)
    if (files.isEmpty) return None
    val perFile = files.map { p =>
      val r = open(p)
      try {
        val vals = r.getFooter.getBlocks.asScala.flatMap { b =>
          b.getColumns.asScala.filter(_.getPath.toDotString == column).flatMap { c =>
            val st = c.getStatistics
            if (st == null || !st.hasNonNullValue) None
            else (c.getPrimitiveType.getPrimitiveTypeName,
                c.getPrimitiveType.getLogicalTypeAnnotation) match {
              case (INT64, ts: TimestampLogicalTypeAnnotation) =>
                val v = st.genericGetMax.asInstanceOf[java.lang.Long].longValue
                Some(ts.getUnit match {
                  case LogicalTypeAnnotation.TimeUnit.MILLIS => v * 1000L
                  case LogicalTypeAnnotation.TimeUnit.MICROS => v
                  case LogicalTypeAnnotation.TimeUnit.NANOS => v / 1000L
                })
              case _ => None
            }
          }
        }
        if (vals.isEmpty) None else Some(vals.max)
      } finally r.close()
    }
    if (perFile.exists(_.isEmpty)) None else Some(perFile.flatten.max)
  }

  def collect(dirAbs: String, location: String, schema: SchemaMeta,
      spec: PartSpecMeta, specId: Int, schemaId: Int, seq: Long,
      nameMapped: Boolean = false): Seq[FileMeta] = {
    val root = Paths.get(dirAbs)
    val files =
      if (Files.isRegularFile(root) && root.toString.endsWith(".parquet"))
        Seq(root) // add_files can register a single parquet file
      else if (!Files.isDirectory(root)) return Nil
      else parquetFiles(root).sortBy(_.toString)
    val locNorm = Paths.get(location).toAbsolutePath.toString
    // footer reads are independent metadata IO — a large commit (1000s of
    // files) reads them concurrently instead of serially on one thread
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, math.max(1, files.size)))
    try {
      val futures = files.map { p =>
        pool.submit(new java.util.concurrent.Callable[FileMeta] {
          override def call(): FileMeta = {
            val (rows, stats) = readFooter(p, schema, nameMapped)
            FileMeta(
              path = p.toAbsolutePath.toString.stripPrefix(locNorm + "/"),
              fileType = "data", specId = specId, schemaId = schemaId,
              partition = partitionValues(root, p, spec),
              rowCount = rows, sizeBytes = Files.size(p), sequenceNumber = seq,
              stats = stats, nameMapped = nameMapped)
          }
        })
      }
      futures.map(_.get())
    } finally pool.shutdown()
  }

  /** hidden-partition dir segments: `_p_<name>=<escaped value>` */
  private def partitionValues(root: Path, file: Path, spec: PartSpecMeta): Map[String, String] = {
    if (spec.fields.isEmpty) return Map.empty
    val segs = root.relativize(file).iterator().asScala.map(_.toString).toSeq
    segs.flatMap { s =>
      val i = s.indexOf('=')
      if (i > 0 && s.startsWith("_p_")) Some(s.substring(3, i) -> unescape(s.substring(i + 1)))
      else None
    }.toMap
  }

  /** undo Spark's %xx partition-path escaping in a `_p_` directory value.
    * A '%' NOT followed by two hex digits is a literal character (the
    * Hive/Spark unescape rule), so a malformed name like "x%zy" reads
    * as-is instead of failing the commit that collects its stats. */
  private def unescape(s: String): String = {
    def hex(c: Char): Boolean =
      (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%' && i + 3 <= s.length &&
          hex(s.charAt(i + 1)) && hex(s.charAt(i + 2))) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  private def readFooter(p: Path, schema: SchemaMeta,
      nameMapped: Boolean): (Long, Map[String, ColStats]) = {
    val reader = open(p)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      // accumulate per top-level column across row groups
      val acc = scala.collection.mutable.Map[String, (Option[Comparable[Any]], Option[Comparable[Any]], Long, Boolean)]()
      blocks.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          val name = c.getPath.toDotString
          if (!name.contains('.')) {
            val st = c.getStatistics
            val prev = acc.getOrElse(name, (None, None, 0L, true))
            if (st == null) acc(name) = (None, None, prev._3, false)
            else {
              val nulls = prev._3 + math.max(0L, st.getNumNulls)
              if (!st.hasNonNullValue) acc(name) = (prev._1, prev._2, nulls, prev._4)
              else {
                val conv = convert(c.getPrimitiveType.getPrimitiveTypeName,
                  c.getPrimitiveType.getLogicalTypeAnnotation,
                  st.genericGetMin.asInstanceOf[AnyRef],
                  st.genericGetMax.asInstanceOf[AnyRef])
                conv match {
                  case Some((mn, mx)) =>
                    val nmn = prev._1.map(v => if (mn.compareTo(v) < 0) mn else v).orElse(Some(mn))
                    val nmx = prev._2.map(v => if (mx.compareTo(v) > 0) mx else v).orElse(Some(mx))
                    acc(name) = (nmn, nmx, nulls, prev._4)
                  case None => acc(name) = (None, None, nulls, false)
                }
              }
            }
          }
        }
      }
      val stats = schema.fields.flatMap { f =>
        // name-mapped (imported) files carry LOGICAL column names
        acc.get(if (nameMapped) f.name else s"f${f.id}").map { case (mn, mx, nulls, ok) =>
          // only string stats can exceed the cap; numerics/timestamps
          // render short. Truncated bounds stay VALID (weaker) bounds.
          def enc(v: Option[Comparable[Any]], isMax: Boolean): Option[String] =
            if (!ok) None else v.map(_.toString).flatMap { s =>
              if (s.length <= MaxStatLen) Some(s)
              else if (isMax) truncUpper(s)
              else Some(s.substring(0, TruncLen))
            }
          f.id.toString -> ColStats(enc(mn, isMax = false), enc(mx, isMax = true), nulls)
        }
      }.toMap
      (rows, stats)
    } finally reader.close()
  }

  /** convert typed footer min/max into the manifest's comparable/encodable
    * representation; None = type not stat-supported (conservative) */
  private def convert(t: org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName,
      ann: LogicalTypeAnnotation, mn: AnyRef, mx: AnyRef): Option[(Comparable[Any], Comparable[Any])] = {
    def c2(a: Any, b: Any) =
      Some((a.asInstanceOf[Comparable[Any]], b.asInstanceOf[Comparable[Any]]))
    (t, ann) match {
      case (INT64, ts: TimestampLogicalTypeAnnotation) =>
        val f: Long => Long = ts.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.MILLIS => _ * 1000L
          case LogicalTypeAnnotation.TimeUnit.MICROS => identity
          case LogicalTypeAnnotation.TimeUnit.NANOS => _ / 1000L
        }
        c2(f(mn.asInstanceOf[java.lang.Long]), f(mx.asInstanceOf[java.lang.Long]))
      case (INT64, d: DecimalLogicalTypeAnnotation) =>
        c2(BigDecimal(BigInt(mn.asInstanceOf[java.lang.Long].longValue), d.getScale),
          BigDecimal(BigInt(mx.asInstanceOf[java.lang.Long].longValue), d.getScale))
      case (INT64, _) => c2(mn, mx)
      case (INT32, d: DecimalLogicalTypeAnnotation) =>
        c2(BigDecimal(BigInt(mn.asInstanceOf[java.lang.Integer].intValue), d.getScale),
          BigDecimal(BigInt(mx.asInstanceOf[java.lang.Integer].intValue), d.getScale))
      case (INT32, _: DateLogicalTypeAnnotation) => c2(mn, mx) // epoch days
      case (INT32, _) => c2(mn, mx)
      case (DOUBLE, _) => c2(mn, mx)
      case (FLOAT, _) => c2(mn, mx)
      case (BINARY, _: StringLogicalTypeAnnotation) =>
        c2(mn.asInstanceOf[Binary].toStringUsingUTF8,
          mx.asInstanceOf[Binary].toStringUsingUTF8)
      case _ => None
    }
  }
}
