package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Order-insensitive result hash, shared bit for bit with
  * `benchlib/rowhash.py`: a row is its canonical values (columns in name
  * order) joined by U+001F, and the table hash is the row count plus the
  * sum mod 2^64 of the first eight bytes of each row's MD5. */
object RowHash {

  def canon(v: Any, t: DataType): String = (v, t) match {
    case (null, _) => "\\N"
    case (b: Boolean, _) => if (b) "true" else "false"
    case (x: Byte, _) => x.toString
    case (x: Short, _) => x.toString
    case (x: Int, _: DateType) => x.toString
    case (x: Int, _) => x.toString
    case (x: Long, _) => x.toString
    case (x: Float, _) => canonDouble(x.toDouble)
    case (x: Double, _) => canonDouble(x)
    case (x: java.math.BigDecimal, _) => canonDecimal(x)
    case (x: scala.math.BigDecimal, _) => canonDecimal(x.bigDecimal)
    case (x: java.sql.Timestamp, _) =>
      (Math.floorDiv(x.getTime, 1000L) * 1000000L + x.getNanos / 1000).toString
    case (x: java.time.Instant, _) =>
      (x.getEpochSecond * 1000000L + x.getNano / 1000).toString
    case (x: java.time.LocalDateTime, _) =>
      val i = x.toInstant(java.time.ZoneOffset.UTC)
      (i.getEpochSecond * 1000000L + i.getNano / 1000).toString
    case (x: java.sql.Date, _) => x.toLocalDate.toEpochDay.toString
    case (x: java.time.LocalDate, _) => x.toEpochDay.toString
    case (x: String, _) => "s" + x
    case (x: Array[Byte], _) => "b" + x.map(b => f"${b & 0xff}%02x").mkString
    case (x: scala.collection.Seq[_], ArrayType(et, _)) =>
      x.map(canon(_, et)).mkString("[", ",", "]")
    case (r: Row, st: StructType) =>
      st.fields.indices.map(i => canon(r.get(i), st.fields(i).dataType)).mkString("{", ",", "}")
    case (o, _) => throw new IllegalArgumentException(s"unhashable ${o.getClass} as $t")
  }

  def canonDouble(d: Double): String = {
    val x = if (d.isNaN) Double.NaN else if (d == 0.0) 0.0 else d
    f"d${java.lang.Double.doubleToLongBits(x)}%016x"
  }

  def canonDecimal(d: java.math.BigDecimal): String =
    if (d.signum == 0) "m0" else "m" + d.stripTrailingZeros.toPlainString

  def rowDigest(text: String): Long = {
    val md = MessageDigest.getInstance("MD5").digest(text.getBytes(StandardCharsets.UTF_8))
    var x = 0L
    for (i <- 0 until 8) x = (x << 8) | (md(i) & 0xffL)
    x
  }

  /** hash of collected rows under `schema` */
  def of(rows: Array[Row], schema: StructType): String = {
    val order = schema.fields.indices.sortBy(i => schema.fields(i).name)
    var sum = 0L
    rows.foreach { r =>
      sum += rowDigest(order.map(i => canon(r.get(i), schema.fields(i).dataType)).mkString("\u001f"))
    }
    f"${rows.length}%d:$sum%016x"
  }
}
