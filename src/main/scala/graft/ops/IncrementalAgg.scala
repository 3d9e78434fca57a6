package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.table.GraftTable

/** Incrementally-maintained materialized aggregate over a graft table —
  * the lakehouse pattern Iceberg users hand-roll with snapshot ids
  * (`tests/iceberg_feature_tests.py:1320-1360` exercises the incremental
  * read it builds on): a keyed COUNT/SUM result table that refresh()
  * advances by consuming ONLY the data files committed since its last
  * refresh, then MERGEs the delta into itself.
  *
  * Cost model at 100 TB: a day's refresh reads the day's files — the
  * manifest sequence numbers select them on the driver — aggregates the
  * delta (one shuffle of the DELTA, not the table), and commits one
  * file-scoped merge. A full recompute never happens after bootstrap.
  * The refresh cursor (last consumed snapshot) lives in the RESULT
  * table's properties, so the pair (base, result) is self-describing
  * and refresh is idempotent: re-running after a crash consumes from
  * the recorded cursor, and the merge commit + cursor update ride the
  * same optimistic-concurrency metadata path.
  *
  * Append-only increments are supported (the common fact-stream shape);
  * row-level mutations of already-consumed files require a CDC-diff
  * refresh (see GraftTable.changes), rejected here rather than silently
  * double-counted.
  */
object IncrementalAgg {
  type Q = (SparkSession, String) => DataFrame

  private val CursorProp = "incr.last-snapshot-id"
  private val CursorSeqProp = "incr.last-sequence-number"

  /** create the result table for a (key → count, sum(valueCol)) aggregate */
  def createResult(spark: SparkSession, location: String, keyCol: String,
      keyType: String): GraftTable =
    GraftTable.create(spark, location,
      s"$keyCol $keyType, cnt bigint, total decimal(18,2)")

  /** advance `result` over the base commits since the last refresh */
  def refresh(base: GraftTable, result: GraftTable, keyCol: String,
      valueCol: String): Unit = {
    val baseMeta = base.meta
    val head = baseMeta.head("main").getOrElse(return)
    val lastSnap = result.meta.properties.get(CursorProp).map(_.toLong)
    val lastSeq = result.meta.properties.get(CursorSeqProp).map(_.toLong).getOrElse(0L)
    if (lastSnap.contains(head.snapshotId)) return // nothing new
    // reject silent double-counting: a rewrite of already-consumed files
    // (CoW update/delete, compaction) invalidates pure-append refresh
    val mutated = baseMeta.snapshots
      .filter(s => lastSnap.isDefined && s.sequenceNumber > lastSeq &&
        s.operation != "append")
    require(mutated.isEmpty,
      s"incremental refresh requires append-only commits since the cursor; " +
        s"found ${mutated.map(_.operation).distinct.mkString(",")} — " +
        "rebuild or use a CDC-diff refresh")
    val delta = lastSnap match {
      case None => base.scan() // bootstrap: everything up to head
      case Some(sid) => base.scanIncremental(sid, Some(head.snapshotId))
    }
    val deltaAgg = delta.groupBy(col(keyCol))
      .agg(count(lit(1)).as("cnt"),
        sum(col(valueCol).cast(DecimalType(18, 2))).cast(DecimalType(18, 2))
          .as("total"))
    result.merge(deltaAgg.alias("s"), on = s"t.$keyCol = s.$keyCol",
      matchedSet = Map("cnt" -> "t.cnt + s.cnt", "total" -> "t.total + s.total"),
      insertValues = Some(Map(keyCol -> s"s.$keyCol", "cnt" -> "s.cnt",
        "total" -> "s.total")))
    result.updateProperties(Map(
      CursorProp -> head.snapshotId.toString,
      CursorSeqProp -> head.sequenceNumber.toString))
  }

  /** driver query: three append batches, three refreshes; the final
    * result table must equal the full aggregate of everything appended */
  def incrAggQuery(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("incr")
    val base = GraftTable.create(spark, tmp.resolve("base").toString,
      "o_orderkey bigint, o_orderpriority string, o_totalprice double")
    val result = createResult(spark, tmp.resolve("agg").toString,
      "o_orderpriority", "string")
    val o = Tables(spark, dir, "orders")
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    for (r <- 0 to 2) {
      base.append(o.filter(col("o_orderkey") % 3 === r))
      refresh(base, result, "o_orderpriority", "o_totalprice")
    }
    result.scan()
      .select(col("o_orderpriority"), col("cnt").as("n"),
        col("total").cast("double").as("sum_total"))
      .orderBy("o_orderpriority")
  }

  /** streaming maintenance of the same materialized aggregate: each
    * micro-batch appends to the base table (one atomic snapshot commit)
    * and refresh() advances the result table from the cursor — the
    * lakehouse "streaming materialized view" loop. Batch boundaries don't
    * affect the result: refresh is exact over whatever delta landed, so
    * the final table equals the full aggregate regardless of how the
    * stream was chopped. */
  def streamIncrAggQuery(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("sincr")
    val base = GraftTable.create(spark, tmp.resolve("base").toString,
      "o_orderkey bigint, o_orderpriority string, o_totalprice double")
    val result = createResult(spark, tmp.resolve("agg").toString,
      "o_orderpriority", "string")
    val o = Tables(spark, dir, "orders")
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    o.repartition(3).write.parquet(tmp.resolve("in").toString)
    val stream = spark.readStream.schema(o.schema)
      .option("maxFilesPerTrigger", 1).parquet(tmp.resolve("in").toString)
    StreamingOps.runBatches(stream, tmp.resolve("ckpt").toString) { batch =>
      base.append(batch)
      refresh(base, result, "o_orderpriority", "o_totalprice")
    }
    result.scan()
      .select(col("o_orderpriority"), col("cnt").as("n"),
        col("total").cast("double").as("sum_total"))
      .orderBy("o_orderpriority")
  }

  val queries: Map[String, Q] = Map(
    "q_incr_agg" -> incrAggQuery,
    "q_stream_incr_agg" -> streamIncrAggQuery)

  private val fullAggSql =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_incr_agg" -> fullAggSql,
    "q_stream_incr_agg" -> fullAggSql)
}
