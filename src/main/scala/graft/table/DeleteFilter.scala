package graft.table

import java.nio.file.{Files, Path, Paths}
import java.util.BitSet

import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, BoundReference, Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Deleted row positions of the planned data files: one bitmap per file,
  * in the [[Dv]] bit layout. A value: equal content is an equal filter
  * (`BitSet` and `UTF8String` compare by content), so equal scans plan
  * equal and a cached scan serves a fresh one. */
final case class DeletedPositions(byFile: Map[UTF8String, BitSet]) {
  def deleted(file: UTF8String, pos: Long): Boolean = {
    val bits = byFile.getOrElse(file, null)
    bits != null && pos <= Int.MaxValue && bits.get(pos.toInt)
  }
}

/** `deleted(file, pos)`: is the row at `pos` of `file` deleted. */
case class PositionDeleted(file: Expression, pos: Expression, positions: DeletedPositions)
    extends BinaryExpression {
  override def left: Expression = file
  override def right: Expression = pos
  override def dataType: DataType = BooleanType
  override def prettyName: String = "deleted"
  override def toString: String = s"deleted($file, $pos)"

  override def nullSafeEval(f: Any, p: Any): Any =
    positions.deleted(f.asInstanceOf[UTF8String], p.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("positions", positions, classOf[DeletedPositions].getName)
    nullSafeCodeGen(ctx, ev, (f, p) => s"${ev.value} = $ref.deleted($f, $p);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(file = newLeft, pos = newRight)
}

/** The key tuples of one equality-delete file, in the presented field
  * types, normalized so set membership is `<=>` per component: null
  * matches null, NaN matches NaN, -0.0 matches 0.0, and binary values
  * compare by content. A one-field key is its value; a wider key is the
  * sequence of its values. Every normalized value is serializable, as
  * the filter ships with the scan's tasks. */
final case class DeletedKeys(keys: Set[Any]) {
  def deleted(values: Array[AnyRef]): Boolean =
    keys.contains(DeletedKeys.key(values.toIndexedSeq))
}

object DeletedKeys {
  /** NaN as a key (Scala's `==`, which sets use, never matches NaN). */
  case object NaN
  def norm(v: Any): Any = v match {
    case d: Double => if (d.isNaN) NaN else if (d == 0.0) 0.0 else d
    case f: Float => if (f.isNaN) NaN else if (f == 0.0f) 0.0f else f
    case b: Array[Byte] => ArraySeq.unsafeWrapArray(b)
    case o => o
  }
  /** A normalized value back in Spark's internal form. */
  def denorm(v: Any): Any = v match {
    case b: ArraySeq.ofByte => b.unsafeArray
    case o => o
  }
  def key(values: Seq[Any]): Any =
    if (values.size == 1) norm(values.head) else values.map(norm)
}

/** `deleted(k1, ..., kn)`: is this key tuple one of the deleted keys. */
case class KeyDeleted(children: Seq[Expression], keys: DeletedKeys) extends Expression {
  override def nullable: Boolean = false
  override def dataType: DataType = BooleanType
  override def prettyName: String = "deleted"
  override def toString: String = children.mkString("deleted(", ", ", ")")

  override def eval(input: InternalRow): Any =
    keys.deleted(children.map(_.eval(input).asInstanceOf[AnyRef]).toArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("keys", keys, classOf[DeletedKeys].getName)
    val evs = children.map(_.genCode(ctx))
    val boxed = children.zip(evs).map { case (c, e) =>
      val v = if (CodeGenerator.isPrimitiveType(c.dataType))
        s"${CodeGenerator.boxedType(c.dataType)}.valueOf(${e.value})" else e.value.toString
      s"${e.isNull} ? null : (Object) $v"
    }
    ev.copy(code = code"""
      ${evs.map(_.code).mkString("\n")}
      boolean ${ev.value} = $ref.deleted(new Object[] {${boxed.mkString(", ")}});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** Delete files read on the driver: each part file is read with the
  * schema the format fixes for its kind, by the driver-side parquet
  * reader ([[DriverParquet]]), with no Spark job and no broadcast.
  * [[DeleteReader]] decodes the rows and caches them in [[Meta]]'s
  * bounded cache under the entry's absolute path — delete files are
  * immutable once published. */
private[table] object DeleteFiles {

  /** The decoded cost of one key tuple of `fields` fields, apart from the
    * bytes of its string and binary values. */
  def keyBytes(fields: Int): Long = 16L + 32L * fields

  /** The bytes of a delete entry's parquet part files on disk. */
  def diskBytes(dir: String): Long = partFiles(dir).map(Files.size).sum

  /** `keys` cast from the types they were written in to `to`. */
  def convert(keys: Set[Any], from: Seq[DataType], to: Seq[DataType],
      timeZone: String): Set[Any] = {
    if (from == to) return keys
    val casts = from.zip(to).map { case (f, t) =>
      Cast(BoundReference(0, f, nullable = true), t, Some(timeZone)) }
    def conv(i: Int, v: Any): Any = v match {
      case DeletedKeys.NaN => v // NaN widens to NaN
      case _ => casts(i).eval(InternalRow(DeletedKeys.denorm(v)))
    }
    keys.map {
      case k if from.size == 1 => DeletedKeys.norm(conv(0, k))
      case k => k.asInstanceOf[Seq[Any]].zipWithIndex.map { case (v, i) =>
        DeletedKeys.norm(conv(i, v)) }
    }
  }

  /** The parquet part files of a delete entry's directory; an entry
    * without any is malformed and fails the read. */
  def partFiles(dir: String): Seq[Path] = {
    val d = Paths.get(dir)
    val parts =
      if (!Files.isDirectory(d)) Nil
      else {
        val ls = Files.list(d)
        try ls.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
        }.toSeq.sorted
        finally ls.close()
      }
    require(parts.nonEmpty, s"delete entry has no parquet part file under $dir")
    parts
  }

  /** Every row of a delete entry's part files, in `schema`. */
  def rows(io: DriverParquet, dir: String, schema: StructType): Seq[InternalRow] = {
    val out = mutable.ArrayBuffer.empty[InternalRow]
    for (p <- partFiles(dir)) io.foreach(p.toString, Files.size(p), schema)(out += _.copy())
    out.toSeq
  }
}
