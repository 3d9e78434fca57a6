package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Scratch, Tables}
import graft.table._

/** Format-v3 typed-column capabilities (SURVEY.md §2.1 #23–27): variant,
  * shredded variant, geometry (WKB), nanosecond timestamps, row lineage.
  * Each runs through a graft table so the storage round-trip — not just the
  * expression — is what gets oracle-checked. */
object V3Ops {
  type Q = (SparkSession, String) => DataFrame

  // --- #23 variant type: semi-structured props stored as Spark VARIANT ------
  def variant(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, Scratch.table(), "event_id bigint, props variant")
    t.append(Tables(spark, dir, "events")
      .select(col("event_id"), parse_json(col("props")).as("props")))
    t.scan()
      .select(col("event_id"),
        variant_get(col("props"), "$.k", "bigint").as("k"))
      .orderBy("event_id")
  }

  // --- #24 shredded variant: hot field also stored typed; reads recombine ---
  def variantShredded(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, Scratch.table(),
      "event_id bigint, k bigint, props variant")
    val ev = Tables(spark, dir, "events")
    // write-side shredding: extract $.k to a typed column (stats + pruning
    // capable), keep the full variant alongside
    t.append(ev.select(col("event_id"),
      get_json_object(col("props"), "$.k").cast("bigint").as("k"),
      parse_json(col("props")).as("props")))
    // typed filter served by the SHREDDED column (manifest min/max prune),
    // recombination checked by reading the same field from the variant
    t.scan(filter = Some("k >= 50"))
      .select(col("event_id"), col("k").as("k_shred"),
        variant_get(col("props"), "$.k", "bigint").as("k_var"))
      .orderBy("event_id")
  }

  // --- variant depth: nested objects + arrays --------------------------------
  /** Nested/array variant processing: per-user documents are BUILT as
    * JSON (counts + the 3 earliest events as an object array), stored as
    * a variant column in the table, and read back through array-index
    * paths (`$.events[2].event_id`) — the semi-structured round trip
    * including out-of-bounds → NULL. The event array is deterministic:
    * sort_array over (ts, event_id)-keyed structs, then slice. The
    * oracle computes the semantic answer relationally — the variant
    * encode/decode is exactly what's under test. */
  def variantNested(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val packed = ev.select(col("user_id"),
        struct(unix_micros(col("ts")).as("ts_us"), col("event_id"),
          col("event_type")).as("e"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        slice(sort_array(collect_list(col("e"))), 1, 3).as("events"))
    val t = GraftTable.create(spark, Scratch.table(), "user_id bigint, doc variant")
    t.append(packed.select(col("user_id"),
      parse_json(to_json(struct(col("n"), col("events")))).as("doc")))
    t.scan()
      .select(col("user_id"),
        variant_get(col("doc"), "$.n", "bigint").as("n_events"),
        variant_get(col("doc"), "$.events[0].event_type", "string").as("first_type"),
        variant_get(col("doc"), "$.events[2].event_id", "bigint").as("third_id"))
      .orderBy("user_id")
  }

  // --- #25 geometry: point(x,y) as WKB binary + bbox predicate --------------
  /** WKB little-endian 2D point codec (21 bytes: order, type=1, x, y) —
    * native codegen'd expressions ([[graft.functions.WkbPointEnc]] /
    * [[graft.functions.WkbCoord]]); a Scala UDF here blocked whole-stage
    * codegen on the geometry scan */
  private def wkbPoint(x: Column, y: Column): Column =
    graft.functions.GraftFunctions.wkbPoint(x, y)
  private def wkbX(w: Column): Column = graft.functions.GraftFunctions.wkbX(w)
  private def wkbY(w: Column): Column = graft.functions.GraftFunctions.wkbY(w)

  def geoBbox(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, Scratch.table(), "id bigint, geom binary")
    val pts = Tables(spark, dir, "orders").select(
      col("o_orderkey").as("id"),
      wkbPoint((col("o_orderkey") % 360 - 180).cast("double"),
        (col("o_custkey") % 180 - 90).cast("double")).as("geom"))
    t.append(pts)
    t.scan()
      .select(col("id"), wkbX(col("geom")).as("x"), wkbY(col("geom")).as("y"))
      .filter(col("x").between(-10.0, 10.0) && col("y").between(-10.0, 10.0))
      .orderBy("id")
  }

  // --- geography: spheroidal distance predicate over the same codec ---------
  /** Great-circle kilometres between (lat1°,lon1°) and (lat2°,lon2°):
    * haversine on a 6371-km sphere, built from plain Spark math
    * functions (radians/sin/cos/asin/sqrt — all codegen'd, no UDF).
    * sin² is written `sin*sin`, matching the oracle SQL token-for-token
    * so both engines execute the same FP op sequence. */
  private def haversineKm(lat1: org.apache.spark.sql.Column,
      lon1: org.apache.spark.sql.Column,
      lat2: org.apache.spark.sql.Column,
      lon2: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val sdlat = sin(radians(lat2 - lat1) / 2)
    val sdlon = sin(radians(lon2 - lon1) / 2)
    lit(2 * 6371.0) * asin(sqrt(
      sdlat * sdlat + cos(radians(lat1)) * cos(radians(lat2)) * sdlon * sdlon))
  }

  /** GEOGRAPHY analog of [[geoBbox]] (the reference creates a
    * GEOGRAPHY(4326) column alongside GEOMETRY,
    * tests/iceberg_feature_tests.py:1377-1400): the SAME WKB point codec
    * stored through a graft table, read back and filtered by a
    * SPHEROIDAL predicate — great-circle distance to a fixed point
    * < 1500 km — instead of the planar bbox. Transcendentals are not
    * bit-identical across engines, so the distance itself is never
    * output and the threshold is chosen for margin: on the integer
    * lat/lon grid this codec produces, the nearest achievable distance
    * to 1500 km is ~7.4 km away (computed over the full 360×180 grid) —
    * ulp-level libm differences cannot flip the predicate. Output
    * columns are exact integer-valued doubles, so the hash compare is
    * safe. */
  def geoSphere(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, Scratch.table(), "id bigint, geom binary")
    t.append(Tables(spark, dir, "orders").select(
      col("o_orderkey").as("id"),
      wkbPoint((col("o_orderkey") % 360 - 180).cast("double"),
        (col("o_custkey") % 180 - 90).cast("double")).as("geom")))
    t.scan()
      .select(col("id"), wkbX(col("geom")).as("x"), wkbY(col("geom")).as("y"))
      .filter(haversineKm(col("y"), col("x"), lit(0.0), lit(0.0)) < 1500.0)
      .orderBy("id")
  }

  // --- #26 nanosecond timestamps: BIGINT nanos logical type -----------------
  /** Nanosecond events with a PLANTED deterministic sub-µs residue
    * (`event_id % 1000` ns on top of the µs instant). The v3 nanos
    * feature is a FORMAT capability, not a testdata property — the
    * current generation ships ts at micro precision, so the residue is
    * what proves the bigint-nanos column carries information below what
    * timestamp[us] can hold (earlier testdata carried native sub-µs
    * components; asserting on those became vacuous after the regen). */
  private def nanoEvents(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events").select(col("event_id"),
      (unix_micros(col("ts")) * 1000L + col("event_id") % 1000).as("ts_ns"))

  def nanoTs(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, Scratch.table(), "event_id bigint, ts_ns bigint")
    t.append(nanoEvents(spark, dir))
    // full nanosecond precision is stored (spec-checked: the planted
    // residue survives the round-trip bit-exactly); the oracle compares
    // at micro precision, so `div 1000` here must drop the residue —
    // which is exactly the ns→µs truncation semantics under test.
    // (min/max first pick the winner at ns precision; a non-negative
    // residue never changes which µs value wins, nor floors across an
    // hour boundary, so the truncated aggregate replays in µs-land.)
    t.scan()
      .groupBy(expr("ts_ns div 3600000000000").as("hr"))
      .agg(count(lit(1)).as("n"),
        expr("min(ts_ns) div 1000").as("min_us"),
        expr("max(ts_ns) div 1000").as("max_us"))
      .orderBy("hr")
  }

  /** ns-round-trip check used by OpsSpec (not oracle-expressible):
    * rows whose stored residue differs from the planted one (must be 0,
    * proving bit-exact sub-µs storage) and rows with a nonzero residue
    * (must be >0, proving the check isn't vacuous). */
  def nanoResidue(spark: SparkSession, dir: String): (Long, Long) = {
    val t = GraftTable.create(spark, Scratch.table(), "event_id bigint, ts_ns bigint")
    t.append(nanoEvents(spark, dir))
    val s = t.scan()
    (s.filter(col("ts_ns") % 1000 =!= col("event_id") % 1000).count(),
      s.filter(col("ts_ns") % 1000 =!= 0).count())
  }

  // --- #27 row lineage: _row_id stable, sequence bumps on update ------------
  def lineage(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, Scratch.table(),
      "o_orderkey bigint, o_totalprice double")
    val o = Tables(spark, dir, "orders").select("o_orderkey", "o_totalprice")
    t.append(o.filter(col("o_orderkey") % 2 === 0)) // seq 1
    t.append(o.filter(col("o_orderkey") % 2 === 1)) // seq 2
    t.update("o_orderkey % 10 = 3", Map("o_totalprice" -> "o_totalprice + 1.0"),
      WriteMode.MergeOnRead) // seq 3 for updated rows, ids preserved
    val s = t.scan(withLineage = true)
    // oracle-checkable: per-row sequence; spec-checked: _row_id uniqueness
    s.select(col("o_orderkey"),
        col("_last_updated_sequence_number").as("last_seq"))
      .orderBy("o_orderkey")
  }

  val queries: Map[String, Q] = Map(
    "q_variant" -> variant,
    "q_variant_nested" -> variantNested,
    "q_variant_shredded" -> variantShredded,
    "q_geo_bbox" -> geoBbox,
    "q_geo_sphere" -> geoSphere,
    "q_nano_ts" -> nanoTs,
    "q_lineage" -> lineage)

  val oracles: Map[String, String] = Map(
    "q_variant_nested" ->
      """WITH r AS (
        |  SELECT user_id, event_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n
        |  FROM events)
        |SELECT user_id, CAST(MAX(n) AS BIGINT) AS n_events,
        |  MAX(CASE WHEN rn = 1 THEN event_type END) AS first_type,
        |  MAX(CASE WHEN rn = 3 THEN event_id END) AS third_id
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_variant" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "q_variant_shredded" ->
      """SELECT event_id,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_shred,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_var
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
        |ORDER BY event_id""".stripMargin,
    "q_geo_bbox" ->
      """SELECT o_orderkey AS id,
        | CAST(o_orderkey % 360 - 180 AS DOUBLE) AS x,
        | CAST(o_custkey % 180 - 90 AS DOUBLE) AS y
        |FROM orders
        |WHERE (o_orderkey % 360 - 180) BETWEEN -10 AND 10
        |  AND (o_custkey % 180 - 90) BETWEEN -10 AND 10
        |ORDER BY id""".stripMargin,
    "q_geo_sphere" ->
      """SELECT o_orderkey AS id,
        | CAST(o_orderkey % 360 - 180 AS DOUBLE) AS x,
        | CAST(o_custkey % 180 - 90 AS DOUBLE) AS y
        |FROM orders
        |WHERE 2 * 6371.0 * asin(sqrt(
        |    sin(radians(0.0 - CAST(o_custkey % 180 - 90 AS DOUBLE)) / 2)
        |  * sin(radians(0.0 - CAST(o_custkey % 180 - 90 AS DOUBLE)) / 2)
        |  + cos(radians(CAST(o_custkey % 180 - 90 AS DOUBLE))) * cos(radians(0.0))
        |  * sin(radians(0.0 - CAST(o_orderkey % 360 - 180 AS DOUBLE)) / 2)
        |  * sin(radians(0.0 - CAST(o_orderkey % 360 - 180 AS DOUBLE)) / 2)
        |)) < 1500.0
        |ORDER BY id""".stripMargin,
    "q_nano_ts" ->
      """SELECT epoch_ns(ts) // 3600000000000 AS hr, COUNT(*) AS n,
        | MIN(epoch_us(ts)) AS min_us, MAX(epoch_us(ts)) AS max_us
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_lineage" ->
      """SELECT o_orderkey,
        | CAST(CASE WHEN o_orderkey % 10 = 3 THEN 3
        |      WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS BIGINT) AS last_seq
        |FROM orders ORDER BY o_orderkey""".stripMargin)
}
