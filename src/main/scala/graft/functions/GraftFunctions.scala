package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, Literal, Murmur3Hash, Pmod, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType}

/** Native Catalyst expressions for the graft engine — the (b) rung of the
  * operator ladder: compose built-ins when possible, write a codegen'd
  * Expression when the built-ins can't express it efficiently, and only
  * then fall back to UDFs. Cosine similarity over embedding vectors is the
  * canonical case: the `aggregate(zip_with(...))` composition allocates an
  * intermediate array per pair, while this expression runs one fused
  * primitive loop inside whole-stage codegen. */
object CosineSimilarity {
  /** shared by interpreted eval and generated code; left-to-right
    * accumulation keeps results bit-identical to the fold-based form and
    * the DuckDB oracle */
  def compute(x: Array[Double], y: Array[Double]): Double = {
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < x.length) {
      dot += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i); i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }
}

case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarity.compute(
      a.asInstanceOf[ArrayData].toDoubleArray(),
      b.asInstanceOf[ArrayData].toDoubleArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.CosineSimilarity$$.MODULE$$.compute(" +
        s"$a.toDoubleArray(), $b.toDoubleArray());")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** WKB little-endian 2D point codec — 21 bytes: byte-order tag, geom type
  * 1, x, y. Shared by the interpreted eval and the generated code of the
  * expressions below (a Scala UDF here would block whole-stage codegen on
  * the geometry path). Matches the reference's geometry column surface
  * (tests/iceberg_feature_tests.py:1377-1400). */
object WkbPoint {
  def encode(x: Double, y: Double): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(21).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte); b.putInt(1); b.putDouble(x); b.putDouble(y)
    b.array()
  }
  /** x sits at byte 5, y at byte 13 */
  def coord(w: Array[Byte], off: Int): Double =
    java.nio.ByteBuffer.wrap(w).order(java.nio.ByteOrder.LITTLE_ENDIAN).getDouble(off)
}

/** (x, y) -> 21-byte WKB point, codegen'd */
case class WkbPointEnc(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_wkb_point"

  override def nullSafeEval(x: Any, y: Any): Any =
    WkbPoint.encode(x.asInstanceOf[Double], y.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.functions.WkbPoint$$.MODULE$$.encode($x, $y);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** WKB point -> coordinate at byte `offset` (5 = x, 13 = y), codegen'd */
case class WkbCoord(child: Expression, offset: Int) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String =
    if (offset == 5) "graft_wkb_x" else "graft_wkb_y"

  override def nullSafeEval(w: Any): Any =
    WkbPoint.coord(w.asInstanceOf[Array[Byte]], offset)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, w =>
      s"${ev.value} = graft.functions.WkbPoint$$.MODULE$$.coord($w, $offset);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column + SQL surface for the native expressions. */
object GraftFunctions {

  /** cosine similarity of two array<double> columns (codegen'd) */
  def cosine(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(Bridge.expression(a), Bridge.expression(b)))

  /** (x, y) double columns -> WKB point binary (codegen'd) */
  def wkbPoint(x: Column, y: Column): Column =
    Bridge.column(WkbPointEnc(Bridge.expression(x), Bridge.expression(y)))

  /** WKB point binary -> x coordinate (codegen'd) */
  def wkbX(w: Column): Column = Bridge.column(WkbCoord(Bridge.expression(w), 5))

  /** WKB point binary -> y coordinate (codegen'd) */
  def wkbY(w: Column): Column = Bridge.column(WkbCoord(Bridge.expression(w), 13))

  /** the graft `bucket(n, cols...)` partition transform as an expression —
    * same Murmur3(seed 42) + pmod the write path and the manifest pruner
    * use, so SQL users can reason about bucket placement */
  def bucketExpr(n: Expression, cols: Seq[Expression]): Expression =
    Pmod(new Murmur3Hash(cols), n)

  def bucket(n: Int, cols: Column*): Column =
    Bridge.column(bucketExpr(Literal(n), cols.map(Bridge.expression)))

  private val fns: Seq[(String, Seq[Expression] => Expression, String)] = Seq(
    ("graft_cosine", exprs => CosineSimilarity(exprs(0), exprs(1)),
      "graft_cosine(a, b) - cosine similarity of two double arrays"),
    ("graft_bucket", exprs => bucketExpr(exprs.head, exprs.tail),
      "graft_bucket(n, cols...) - graft partition bucket of the arguments"),
    ("graft_hll_ndv", exprs => HllNdvAgg(exprs.head),
      "graft_hll_ndv(col) - mergeable HyperLogLog NDV sketch (p=9)"),
    ("graft_cms", exprs => CmsSketchAgg(exprs.head),
      "graft_cms(col) - mergeable Count-Min frequency sketch (4x1024)"),
    ("graft_hist_quantile", exprs => HistQuantileAgg.fromExprs(exprs),
      "graft_hist_quantile(col, lo, hi, bins) - mergeable histogram quantile sketch"),
    ("graft_minhash", exprs => MinHashSigAgg(exprs.head),
      "graft_minhash(col) - mergeable K=64 MinHash set signature"),
    ("graft_kmv", exprs => KmvSketchAgg(exprs.head),
      "graft_kmv(col) - mergeable K=256 KMV/theta distinct sketch (set algebra)"),
    ("graft_top_k", exprs => TopKAgg.fromExprs(exprs),
      "graft_top_k(value, id, k) - mergeable bounded top-k rank aggregate"),
    ("graft_wkb_point", exprs => WkbPointEnc(exprs(0), exprs(1)),
      "graft_wkb_point(x, y) - little-endian WKB 2D point"),
    ("graft_wkb_x", exprs => WkbCoord(exprs.head, 5),
      "graft_wkb_x(wkb) - x coordinate of a WKB 2D point"),
    ("graft_wkb_y", exprs => WkbCoord(exprs.head, 13),
      "graft_wkb_y(wkb) - y coordinate of a WKB 2D point"))

  /** runtime registration into an existing session's function registry */
  def register(spark: SparkSession): Unit =
    fns.foreach { case (name, builder, _) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}

/** Config-time injection: `.config("spark.sql.extensions",
  * "graft.functions.GraftExtensions")` makes the functions available in
  * every session of the application, the standard extension-point route. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Seq(
      ("graft_cosine",
        (exprs: Seq[Expression]) => CosineSimilarity(exprs(0), exprs(1)): Expression,
        "graft_cosine(a, b) - cosine similarity of two double arrays"),
      ("graft_bucket",
        (exprs: Seq[Expression]) => GraftFunctions.bucketExpr(exprs.head, exprs.tail),
        "graft_bucket(n, cols...) - graft partition bucket of the arguments"),
      ("graft_hll_ndv",
        (exprs: Seq[Expression]) => HllNdvAgg(exprs.head): Expression,
        "graft_hll_ndv(col) - mergeable HyperLogLog NDV sketch (p=9)"),
      ("graft_cms",
        (exprs: Seq[Expression]) => CmsSketchAgg(exprs.head): Expression,
        "graft_cms(col) - mergeable Count-Min frequency sketch (4x1024)"),
      ("graft_hist_quantile",
        (exprs: Seq[Expression]) => HistQuantileAgg.fromExprs(exprs),
        "graft_hist_quantile(col, lo, hi, bins) - mergeable histogram quantile sketch"),
      ("graft_minhash",
        (exprs: Seq[Expression]) => MinHashSigAgg(exprs.head): Expression,
        "graft_minhash(col) - mergeable K=64 MinHash set signature"),
      ("graft_kmv",
        (exprs: Seq[Expression]) => KmvSketchAgg(exprs.head): Expression,
        "graft_kmv(col) - mergeable K=256 KMV/theta distinct sketch (set algebra)"),
      ("graft_top_k",
        (exprs: Seq[Expression]) => TopKAgg.fromExprs(exprs),
        "graft_top_k(value, id, k) - mergeable bounded top-k rank aggregate")
    ).foreach { case (name, builder, usage) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.GraftFunctions", name, usage),
        builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRule)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // hint-resolution batch runs BEFORE relation resolution, so the graft
    // substitution wins the race against the built-in resolver (which
    // would otherwise reject `graft` as a multi-part namespace)
    ext.injectHintResolutionRule(session => new graft.plans.GraftSqlResolution(session))
  }
}
