package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.table.GraftTable

/** Bucket-wise co-located join over graft tables — the
  * storage-partitioned-join idea (Iceberg SPJ / Hive bucket map join)
  * re-expressed with graft manifests + Spark broadcast.
  *
  * When both tables are partitioned by the SAME bucket transform on their
  * join keys, bucket i of one side can only match bucket i of the other,
  * so the join decomposes into B independent joins unioned together:
  *
  *   - the FACT side is never shuffled — each bucket's files feed a scan
  *     whose join is map-side (its bucket of the dim is broadcast);
  *   - the DIM side needs only ONE bucket in memory at a time, so a
  *     dimension B× larger than the broadcast threshold still joins
  *     entirely shuffle-free;
  *   - bucket routing happens on the DRIVER from manifest partition
  *     values — no task reads a file of the wrong bucket.
  *
  * At 100 TB this is the difference between shuffling the fact table
  * (dominant cost of a sort-merge join) and reading it exactly once in
  * place. The reference's hidden bucket partitioning
  * (`tests/iceberg_feature_tests.py:938-1013`) exists precisely to
  * enable this plan shape.
  */
object BucketJoin {
  type Q = (SparkSession, String) => DataFrame

  /** the single bucket partition field of `t` (name + bucket count) */
  private def bucketField(t: GraftTable): (String, Int) = {
    val m = t.meta
    val fs = m.spec(m.currentSpecId).fields.filter(_.transform == "bucket")
    require(fs.length == 1, s"expected one bucket partition field, got $fs")
    (fs.head.name, fs.head.param.get)
  }

  /** co-located equi-join: requires identical bucket counts (same hash,
    * same modulus → aligned buckets) */
  def join(facts: GraftTable, dims: GraftTable,
      factKey: String, dimKey: String): DataFrame = {
    val (fField, fN) = bucketField(facts)
    val (dField, dN) = bucketField(dims)
    require(fN == dN, s"bucket counts differ: $fN vs $dN — buckets don't align")
    val buckets = facts.partitionValues(fField)
    require(buckets.nonEmpty, "fact table has no data")
    buckets.map { b =>
      facts.scanPartition(fField, b)
        .join(broadcast(dims.scanPartition(dField, b)),
          col(factKey) === col(dimKey))
    }.reduce(_ unionByName _)
  }

  /** driver query: orders ⋈ customer, both bucketed 8-ways on custkey;
    * readback aggregates per market segment */
  def bucketJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Scratch.dir("bj")
    val facts = GraftTable.create(spark, base.resolve("orders").toString,
      "o_orderkey bigint, o_custkey bigint, o_totalprice double",
      partitionBy = Seq("bucket(8, o_custkey)"))
    facts.append(Tables(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice"))
    val dims = GraftTable.create(spark, base.resolve("customer").toString,
      "c_custkey bigint, c_mktsegment string",
      partitionBy = Seq("bucket(8, c_custkey)"))
    dims.append(Tables(spark, dir, "customer").select("c_custkey", "c_mktsegment"))
    join(facts, dims, "o_custkey", "c_custkey")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("sum_total"))
      .orderBy("c_mktsegment")
  }

  val queries: Map[String, Q] = Map("q_bucket_join" -> bucketJoinQuery)

  val oracles: Map[String, String] = Map(
    "q_bucket_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
}
