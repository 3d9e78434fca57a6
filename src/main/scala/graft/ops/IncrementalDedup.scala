package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.table.GraftTable

/** Incremental deduplication against a PERSISTED signature index — how
  * dedup actually runs at 100 TB: the historical corpus is never
  * re-shingled per batch. Its MinHash band signatures live in a graft
  * table (16 rows of (doc_id, band, sig) per document — a few hundred
  * bytes, ~1000× smaller than the text); each incoming batch computes
  * signatures for ITS documents only, equi-joins the index on
  * (band, sig) to get candidates, and verifies candidates with exact
  * Jaccard. Batch cost is O(batch + matching-candidates), independent
  * of corpus size; the index then grows by appending the batch's own
  * signatures (append-only, so `IncrementalAgg`-style cursors work on
  * it too).
  *
  * The driver query replays one step of that loop: documents with
  * `doc_id % 10 == 0` act as the incoming batch, the rest as the
  * indexed history. Output: (new_id, old_id) near-dup links the batch
  * would be quarantined by. The oracle is the exact cross-partition
  * Jaccard pair set (the LSH banding miss probability ~4e-8 per pair is
  * the same argument as `q_dedup_minhash`).
  */
object IncrementalDedup {
  type Q = (SparkSession, String) => DataFrame

  val Tau = 0.5

  /** build (or extend) the signature index table from a document set */
  def appendToIndex(idx: GraftTable, docs: DataFrame): Unit =
    idx.append(Dedup.bandSigs(Dedup.shingleArr(docs)))

  /** probe: near-dup (new, old) links for a batch against the index */
  def probe(batch: DataFrame, idx: GraftTable, hist: DataFrame): DataFrame = {
    // columnar cache; the link RESULT is pinned eagerly below so the
    // cache releases per batch instead of accumulating across the
    // incremental loop's invocations
    val batchArr = Dedup.shingleArr(batch).cache()
    val cand = Dedup.bandSigs(batchArr)
      .select(col("doc_id").as("new_id"), col("band"), col("sig"))
      .join(idx.scan().select(col("doc_id").as("old_id"), col("band"), col("sig")),
        Seq("band", "sig"))
      .select("new_id", "old_id").distinct()
    val histArr = Dedup.shingleArr(hist)
    val out = cand
      .join(batchArr.select(col("doc_id").as("new_id"), col("sh").as("sa")), "new_id")
      .join(histArr.select(col("doc_id").as("old_id"), col("sh").as("sb")), "old_id")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .filter(col("inter").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("inter")) >= Tau)
      .select("new_id", "old_id")
      .localCheckpoint() // link-set-sized eager pin
    batchArr.unpersist(blocking = false)
    out
  }

  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val hist = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val tmp = graft.Scratch.dir("lshidx")
    val idx = GraftTable.create(spark, tmp.resolve("idx").toString,
      "doc_id bigint, band int, sig bigint")
    appendToIndex(idx, hist)
    probe(batch, idx, hist).orderBy("new_id", "old_id")
  }

  val queries: Map[String, Q] = Map("q_dedup_incremental" -> incrementalDedup)

  val oracles: Map[String, String] = Map(
    "q_dedup_incremental" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3
        |), sh AS (
        |  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
        |  FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
        |), cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id
        |), prs AS (
        |  SELECT a.doc_id AS new_id, b.doc_id AS old_id, count(*) AS inter
        |  FROM sh a JOIN sh b
        |    ON a.s = b.s AND a.doc_id % 10 = 0 AND b.doc_id % 10 != 0
        |  GROUP BY 1, 2
        |)
        |SELECT new_id, old_id FROM prs
        | JOIN cnt ca ON new_id = ca.doc_id JOIN cnt cb ON old_id = cb.doc_id
        |WHERE CAST(inter AS DOUBLE) / (ca.c + cb.c - inter) >= 0.5
        |ORDER BY new_id, old_id""".stripMargin)
}
