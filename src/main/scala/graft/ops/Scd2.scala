package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.table.GraftTable

/** Type-2 slowly-changing-dimension maintenance on graft tables: instead
  * of overwriting a dimension row, each change CLOSES the current version
  * (`valid_to = version`, `is_current = false`) and inserts a new open
  * version — so any fact can join the dimension AS OF its own timestamp,
  * the bread-and-butter of warehouse dimension modeling that plain MERGE
  * loses.
  *
  * Scale design: one apply() is ONE atomic overwrite commit whose input
  * plan is `unchanged ∪ closed ∪ new-versions`, built from a single
  * left-join of the dimension against the (small, broadcast) change batch
  * — no per-row driver logic, no multi-commit window where readers see a
  * half-applied batch. At 100 TB the dimension is partitioned by key
  * range; a change batch touches the files holding changed keys and the
  * overwrite would be file-scoped exactly like the CoW update path
  * (GraftTable.update). History grows by |batch| rows per apply, not
  * |dimension|.
  */
object Scd2 {
  type Q = (SparkSession, String) => DataFrame

  /** apply one change batch (key, new attribute value) at `version`:
    * current rows for changed keys close, new open versions append */
  def apply2(dim: GraftTable, changes: DataFrame, keyCol: String,
      valCol: String, version: Long): Unit = {
    val cur = dim.scan()
    val ch = broadcast(changes.select(col(keyCol).as("_k"), col(valCol).as("_v")))
    val joined = cur.join(ch, cur(keyCol) === ch("_k"), "left")
    // rows untouched, or historical versions of changed keys: pass through
    val untouched = joined.filter(col("_k").isNull || !col("is_current"))
      .drop("_k", "_v")
    // current versions of changed keys: close them at `version`
    val closed = joined.filter(col("_k").isNotNull && col("is_current"))
      .withColumn("valid_to", lit(version))
      .withColumn("is_current", lit(false))
      .drop("_k", "_v")
    // the new open versions carry the batch's value
    val opened = joined.filter(col("_k").isNotNull && col("is_current"))
      .withColumn(valCol, col("_v"))
      .withColumn("valid_from", lit(version))
      .withColumn("valid_to", lit(Long.MaxValue))
      .drop("_k", "_v")
    dim.overwrite(untouched.unionByName(closed).unionByName(opened))
  }

  /** seed the customer dimension at v1 and apply the two standard change
    * batches (v2: +100 for key%10=0; v3: +400 for key%20=0) */
  private def buildDim(spark: SparkSession, dir: String): GraftTable = {
    val tmp = graft.Scratch.dir("scd2")
    val c = Tables(spark, dir, "customer")
    val dim = GraftTable.create(spark, tmp.resolve("dim").toString,
      "c_custkey bigint, c_acctbal double, c_mktsegment string, " +
        "valid_from bigint, valid_to bigint, is_current boolean")
    dim.append(c.select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      .withColumn("valid_from", lit(1L))
      .withColumn("valid_to", lit(Long.MaxValue))
      .withColumn("is_current", lit(true)))
    apply2(dim,
      c.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), (col("c_acctbal") + 100.0).as("c_acctbal")),
      "c_custkey", "c_acctbal", version = 2L)
    apply2(dim,
      c.filter(col("c_custkey") % 20 === 0)
        .select(col("c_custkey"), (col("c_acctbal") + 400.0).as("c_acctbal")),
      "c_custkey", "c_acctbal", version = 3L)
    dim
  }

  /** driver query: per-version history stats — pinned to the expected
    * SCD2 state after the two change batches */
  def scd2Query(spark: SparkSession, dir: String): DataFrame = {
    val dim = buildDim(spark, dir)
    dim.scan()
      .groupBy(col("valid_from"), col("is_current"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double")
          .as("sum_bal"),
        min(col("valid_to")).as("min_to"),
        max(col("valid_to")).as("max_to"))
      .orderBy("valid_from", "is_current")
  }

  /** Point-in-time (PIT) join — the feature-store correctness join: each
    * fact joins the dimension VERSION that was valid at the fact's own
    * as-of point (`valid_from <= v < valid_to`), never today's value
    * (no feature leakage). Plan shape: an EQUI hash join on the key with
    * the interval predicate evaluated post-match — versions per key are
    * few (history depth), so the range residual filters a handful of
    * rows per fact; at 100 TB this is one key shuffle, exactly the
    * update-path join, with as-of salting available for hot keys. */
  def pitJoin(spark: SparkSession, dir: String): DataFrame = {
    val dim = buildDim(spark, dir).scan()
    val facts = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        (lit(1L) + col("o_orderkey") % 3).as("ver"))
    facts.join(dim,
        facts("o_custkey") === dim("c_custkey")
          && facts("ver") >= dim("valid_from") && facts("ver") < dim("valid_to"))
      .groupBy(col("ver"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double")
          .as("sum_bal"))
      .orderBy("ver", "c_mktsegment")
  }

  val queries: Map[String, Q] = Map(
    "q_scd2" -> scd2Query,
    "q_pit_join" -> pitJoin)

  /** the oracle reconstructs the expected history rows directly: v1 rows
    * (closed at 2 for key%10=0, else open), v2 rows (closed at 3 for
    * key%20=0, else open), v3 rows (open) */
  val oracles: Map[String, String] = Map(
    "q_pit_join" ->
      """WITH f AS (
        |  SELECT o_orderkey, o_custkey, 1 + o_orderkey % 3 AS ver FROM orders),
        |j AS (
        |  SELECT f.ver, c.c_mktsegment,
        |    CASE WHEN c.c_custkey % 20 = 0 AND f.ver >= 3 THEN c.c_acctbal + 400.0
        |         WHEN c.c_custkey % 10 = 0 AND f.ver >= 2 THEN c.c_acctbal + 100.0
        |         ELSE c.c_acctbal END AS bal
        |  FROM f JOIN customer c ON f.o_custkey = c.c_custkey)
        |SELECT ver, c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(bal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM j GROUP BY ver, c_mktsegment ORDER BY ver, c_mktsegment""".stripMargin,
    "q_scd2" ->
      s"""WITH hist AS (
         |  SELECT c_custkey, c_acctbal, 1 AS valid_from,
         |    CASE WHEN c_custkey % 10 = 0 THEN 2
         |         ELSE ${Long.MaxValue} END AS valid_to,
         |    c_custkey % 10 != 0 AS is_current
         |  FROM customer
         |  UNION ALL
         |  SELECT c_custkey, c_acctbal + 100.0, 2,
         |    CASE WHEN c_custkey % 20 = 0 THEN 3
         |         ELSE ${Long.MaxValue} END,
         |    c_custkey % 20 != 0
         |  FROM customer WHERE c_custkey % 10 = 0
         |  UNION ALL
         |  SELECT c_custkey, c_acctbal + 400.0, 3, ${Long.MaxValue}, true
         |  FROM customer WHERE c_custkey % 20 = 0
         |)
         |SELECT CAST(valid_from AS BIGINT) AS valid_from, is_current,
         |  COUNT(*) AS n_rows,
         |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
         |  CAST(MIN(valid_to) AS BIGINT) AS min_to,
         |  CAST(MAX(valid_to) AS BIGINT) AS max_to
         |FROM hist GROUP BY valid_from, is_current
         |ORDER BY valid_from, is_current""".stripMargin)
}
