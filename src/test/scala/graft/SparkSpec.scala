package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared local Spark session for specs. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"
  val sf01: String = "/root/testdata/sf0.01"

  /** `body` with Spark's broadcast bound off, so scans apply merge-on-read
    * deletes through anti-joins instead of the driver-built filter. */
  def withJoinDeletes[T](body: => T): T = withBroadcastBound(-1)(body)

  /** `body` with Spark's broadcast bound at `bytes`. */
  def withBroadcastBound[T](bytes: Long)(body: => T): T =
    withConf("spark.sql.autoBroadcastJoinThreshold", bytes.toString)(body)

  /** `body` with every file group of a scan read through the Spark leaf
    * (a `ManifestFileIndex` relation): the leaf rule reads a group on the
    * driver only when Spark's vectorized parquet reader may read it, and
    * this switches that reader off. */
  def withSparkLeaf[T](body: => T): T =
    withConf("spark.sql.parquet.enableVectorizedReader", "false")(body)

  /** `body` with the session setting `key` at `value`. */
  def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The data files `df` reads, as raw absolute paths, from either leaf of
    * a table scan: the inputs of its file relations (Spark leaf) and the
    * `_gf` values of its local relations (driver leaf, whose every row
    * carries its file's path). */
  def plannedFiles(df: DataFrame): Set[String] =
    df.queryExecution.analyzed.collectLeaves().flatMap {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
        r.location.inputFiles.toSeq.map(f => new java.net.URI(f).getPath)
      case l: LocalRelation =>
        val i = l.output.indexWhere(_.name == "_gf")
        if (i < 0) Nil else l.data.map(_.getUTF8String(i).toString)
      case _ => Nil
    }.toSet

  /** `body`'s result and the number of Spark jobs started while it ran. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      ListenerBusDrain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }

  /** The physical plans of every query `body` executes, AQE off so the
    * join strategies are visible in the tree. */
  def executedDuring(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.CopyOnWriteArrayList[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // AQE wraps executed plans in an opaque leaf — off for tree inspection
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.listenerManager.register(listener)
    try body
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // the listener fires asynchronously — drain until the count is stable
    var last = -1; var tries = 0
    while (plans.size != last && tries < 50) {
      last = plans.size; Thread.sleep(100); tries += 1
    }
    spark.listenerManager.unregister(listener)
    plans.toArray(Array.empty[SparkPlan]).toSeq
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Tables.SessionConfs.foldLeft(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
