package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** URL hygiene operators — the first stage of a web-crawl training-data
  * pipeline (C4/RefinedWeb discipline): canonicalize the crawl URL, drop
  * documents from blocklisted domains, and collapse re-crawls of the same
  * canonical URL to one representative.
  *
  * The documents table carries no URL column, so each query synthesizes a
  * deterministic crawl URL from (doc_id, source) — deliberately noisy
  * (mixed-case scheme/host, `www.` prefixes, tracking query params) so the
  * normalization has real work to do, and deliberately many-to-one after
  * normalization (the article id is doc_id mod 7) so URL-level dedup has
  * real duplicates to find. Both engines synthesize the identical string,
  * which is what lets the DuckDB oracle replay exact membership.
  *
  * Scale shape: normalization is a pure per-row expression chain
  * (codegen'd, no shuffle); the blocklist join broadcasts the tiny domain
  * table (a real blocklist is ~10⁶ rows — still broadcast territory); URL
  * dedup is one hash aggregation keyed by the canonical URL. Nothing here
  * materializes the corpus twice.
  *
  * Reference scope: the reference's pipeline tests filter documents by
  * source metadata before dedup (tests/iceberg_feature_tests.py drives
  * metadata-predicate scans); URL canonicalization is the standard
  * public-corpus form of that gate.
  */
object UrlOps {
  type Q = (SparkSession, String) => DataFrame

  /** Blocklisted registered domains. Matching is suffix-aware: a listed
    * domain blocks itself and every subdomain (`bad.com` blocks
    * `a.bad.com`), the semantics every public blocklist (UT1 et al.)
    * uses. */
  val BlockedDomains: Seq[String] =
    Seq("src3.example.com", "src7.example.com", "src12.example.com")

  /** The synthetic crawl URL: scheme/host case and `www.` vary with
    * doc_id parity, a tracking query string rides on every 5th doc, and
    * the article id is doc_id mod 7 (so each source re-crawls ~7
    * canonical articles). */
  private def rawUrl: Column = concat(
    when(col("doc_id") % 2 === 0, lit("https://")).otherwise(lit("HTTP://")),
    when(col("doc_id") % 3 === 0,
      concat(lit("WWW."), upper(col("source")), lit(".Example.COM")))
      .otherwise(concat(col("source"), lit(".example.com"))),
    lit("/article-"), (col("doc_id") % 7).cast("string"),
    when(col("doc_id") % 5 === 0, lit("?utm_source=share&sid=42"))
      .otherwise(lit("")))

  /** Canonicalization: strip scheme (case-insensitive), lowercase the
    * host, strip a leading `www.`, drop query string and fragment. Path
    * case is preserved (paths are case-sensitive; hosts are not). A URL
    * with no path (`https://a.com`) canonicalizes to path `/`. All
    * regex steps are anchored or single-match, so Java regex and RE2
    * (DuckDB) agree byte-for-byte. Adds `host`, `path`, `tracked`. */
  private[graft] def withCanonicalUrl(df: DataFrame, url: Column): DataFrame = {
    val stripped = regexp_replace(url, "(?i)^https?://", "")
    df.withColumn("ns",
        when(instr(stripped, "/") === 0, concat(stripped, lit("/")))
          .otherwise(stripped))
      .withColumn("slash", instr(col("ns"), "/"))
      .withColumn("host",
        regexp_replace(lower(col("ns").substr(lit(1), col("slash") - 1)),
          "^www\\.", ""))
      .withColumn("path",
        regexp_replace(
          col("ns").substr(col("slash"), length(col("ns")) - col("slash") + 1),
          "[?#].*$", ""))
      .withColumn("tracked",
        // query-string-only match: a host or path segment containing
        // "utm_" is not a tracking param
        when(instr(col("ns"), "?") > 0 &&
          col("ns").substr(instr(col("ns"), "?"), length(col("ns")))
            .contains("utm_"), 1L)
          .otherwise(0L))
      .drop("ns", "slash")
  }

  private def withCanonical(df: DataFrame): DataFrame =
    withCanonicalUrl(df, rawUrl)

  /** Shared DuckDB replica of [[withCanonical]] as a CTE producing
    * `c(doc_id, host, path, tracked)`. */
  private val canonicalCte: String =
    """u AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END) ||
      |    (CASE WHEN doc_id % 3 = 0
      |          THEN 'WWW.' || upper(source) || '.Example.COM'
      |          ELSE source || '.example.com' END) ||
      |    '/article-' || CAST(doc_id % 7 AS VARCHAR) ||
      |    (CASE WHEN doc_id % 5 = 0 THEN '?utm_source=share&sid=42'
      |          ELSE '' END) AS url
      |  FROM documents
      |), s0 AS (
      |  SELECT doc_id, regexp_replace(url, '(?i)^https?://', '') AS ns0
      |  FROM u
      |), s AS (
      |  SELECT doc_id,
      |    CASE WHEN strpos(ns0, '/') = 0 THEN ns0 || '/' ELSE ns0 END AS ns
      |  FROM s0
      |), c AS (
      |  SELECT doc_id,
      |    regexp_replace(lower(substr(ns, 1, strpos(ns, '/') - 1)),
      |                   '^www\.', '') AS host,
      |    regexp_replace(substr(ns, strpos(ns, '/'),
      |                          len(ns) - strpos(ns, '/') + 1),
      |                   '[?#].*$', '') AS path,
      |    CASE WHEN strpos(ns, '?') > 0
      |           AND contains(substr(ns, strpos(ns, '?')), 'utm_')
      |         THEN 1 ELSE 0 END AS tracked
      |  FROM s
      |)""".stripMargin

  // --- blocklist filtering ---------------------------------------------------
  /** Per-domain crawl hygiene report: total docs, docs surviving the
    * blocklist, docs that carried tracking params. The blocklist joins as
    * a broadcast table with suffix-aware matching (`host = bad OR host
    * LIKE '%.' || bad`) — a BroadcastNestedLoopJoin over a tiny build
    * side, which stays the right plan even at a 10⁶-row production
    * blocklist because the stream side never shuffles. */
  def urlFilter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = withCanonical(
      Tables(spark, dir, "documents").select(col("doc_id"), col("source")))
    val bad = BlockedDomains.toDF("bad")
    docs
      .join(broadcast(bad),
        col("host") === col("bad") ||
          col("host").endsWith(concat(lit("."), col("bad"))),
        "left")
      .groupBy(col("host"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("bad").isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(col("tracked")).as("n_tracked"))
      .orderBy("host")
  }

  // --- canonical-URL dedup ---------------------------------------------------
  /** C4-style URL-level dedup: one representative per canonical
    * (host, path) — first-wins by doc_id — and one output row per REMOVED
    * document naming its surviving representative. One hash aggregation
    * keyed by the canonical URL computes the representative; the removed
    * set falls out of a second pass joined against it. At 100 TB both
    * sides hash-partition on (host, path) so AQE plans a shuffle-free
    * sort-merge reuse; no window over the corpus, no global sort. */
  def dedupUrl(spark: SparkSession, dir: String): DataFrame = {
    val docs = withCanonical(
      Tables(spark, dir, "documents").select(col("doc_id"), col("source")))
      .select(col("doc_id"), col("host"), col("path"))
    val first = docs.groupBy(col("host"), col("path"))
      .agg(min(col("doc_id")).as("first_doc"))
    docs.join(first, Seq("host", "path"))
      .filter(col("doc_id") > col("first_doc"))
      .select(col("doc_id"), col("host"), col("path"), col("first_doc"))
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "q_url_filter" -> urlFilter,
    "q_dedup_url" -> dedupUrl)

  val oracles: Map[String, String] = Map(
    "q_url_filter" ->
      s"""WITH $canonicalCte
         |SELECT c.host,
         |  CAST(count(*) AS BIGINT) AS n_total,
         |  CAST(sum(CASE WHEN b.bad IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  CAST(sum(c.tracked) AS BIGINT) AS n_tracked
         |FROM c LEFT JOIN (VALUES ${BlockedDomains.map(d => s"('$d')").mkString(", ")}) b(bad)
         |  ON c.host = b.bad OR c.host LIKE '%.' || b.bad
         |GROUP BY c.host ORDER BY c.host""".stripMargin,
    "q_dedup_url" ->
      s"""WITH $canonicalCte,
         |f AS (
         |  SELECT host, path, min(doc_id) AS first_doc
         |  FROM c GROUP BY host, path
         |)
         |SELECT c.doc_id, c.host, c.path, f.first_doc
         |FROM c JOIN f USING (host, path)
         |WHERE c.doc_id > f.first_doc
         |ORDER BY c.doc_id""".stripMargin)
}
