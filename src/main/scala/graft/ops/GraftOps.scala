package graft.ops

import scala.annotation.unused

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Scratch, Tables}
import graft.table._

/** Driver-contract queries for the graft table format (SURVEY.md §2.1).
  *
  * Each query builds a scratch graft table from the driver's parquet
  * testdata, exercises one table-format capability, and reads back a
  * deterministic result whose DuckDB oracle is plain SQL over the ORIGINAL
  * tables — so the whole write→commit→scan→(delete/update/evolve)→read
  * cycle is value-checked end to end, not just "ran".
  */
object GraftOps {
  type Q = (SparkSession, String) => DataFrame

  private def d(c: Column): Column = c.cast("double")
  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  private val ordersDdl =
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, " +
      "o_totalprice double, o_orderdate timestamp, o_orderpriority string"

  private def mkOrders(spark: SparkSession,
      partitionBy: Seq[String] = Nil,
      props: Map[String, String] = Map.empty): GraftTable =
    GraftTable.create(spark, Scratch.table(), ordersDdl, partitionBy, props)

  private def orders(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "orders")

  /** standard readback aggregation: per-status counts + exact decimal sum */
  private def aggByStatus(df: DataFrame): DataFrame =
    df.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), d(sum(dec(col("o_totalprice")))).as("sum_total"))
      .orderBy("o_orderstatus")

  private val aggByStatusSql =
    "SELECT o_orderstatus, COUNT(*) AS n, " +
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total " +
      "FROM %SRC% GROUP BY o_orderstatus ORDER BY o_orderstatus"

  // --- #1 table creation ----------------------------------------------------
  def tableCreate(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, Scratch.table(),
      "n_nationkey bigint, n_name string, n_regionkey bigint")
    t.append(Tables(spark, dir, "nation").select("n_nationkey", "n_name", "n_regionkey"))
    t.scan().orderBy("n_nationkey")
  }

  // --- #2 read with filter + projection (pushdown / pruning path) ----------
  def readFilterProject(spark: SparkSession, dir: String): DataFrame = {
    val t = mkOrders(spark)
    t.append(orders(spark, dir))
    t.scan(filter = Some("o_totalprice > 150000.0 and o_orderstatus = 'O'"))
      .select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  // --- #3 insert: two appends, snapshot chain -------------------------------
  def writeInsert(spark: SparkSession, dir: String): DataFrame = {
    val t = mkOrders(spark)
    val o = orders(spark, dir)
    t.append(o.filter(col("o_orderkey") % 3 === 0))
    t.append(o.filter(col("o_orderkey") % 3 === 1))
    aggByStatus(t.scan())
  }

  // --- #4 merge upsert (CoW, file-scoped) -----------------------------------
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val t = mkOrders(spark)
    val o = orders(spark, dir)
    t.append(o.filter(col("o_orderkey") % 2 === 0))
    val src = o.filter(col("o_orderkey") % 4 === 1 || col("o_orderkey") % 4 === 2)
      .select(col("o_orderkey").as("k"), col("o_custkey"), col("o_orderstatus"),
        (col("o_totalprice") + 1000.0).as("newprice"),
        col("o_orderdate"), col("o_orderpriority"))
    t.merge(src, on = "t.o_orderkey = s.k",
      matchedSet = Map("o_totalprice" -> "s.newprice"),
      insertValues = Some(Map(
        "o_orderkey" -> "s.k", "o_custkey" -> "s.o_custkey",
        "o_orderstatus" -> "s.o_orderstatus", "o_totalprice" -> "s.newprice",
        "o_orderdate" -> "s.o_orderdate", "o_orderpriority" -> "s.o_orderpriority")))
    t.scan().groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), d(sum(dec(col("o_totalprice")))).as("sum_total"))
      .orderBy("o_orderpriority")
  }

  // --- #5 positional delete (merge-on-read) ---------------------------------
  def deletePositional(spark: SparkSession, dir: String): DataFrame = {
    val t = mkOrders(spark)
    t.append(orders(spark, dir))
    t.delete("o_orderstatus = 'F'", WriteMode.MergeOnRead)
    t.scan().groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), d(sum(dec(col("o_totalprice")))).as("sum_total"))
      .orderBy("o_orderpriority")
  }

  // --- #6 equality delete: applies only to older rows -----------------------
  def deleteEquality(spark: SparkSession, dir: String): DataFrame = {
    val t = mkOrders(spark)
    val o = orders(spark, dir)
    t.append(o)
    t.deleteByKeys(o.select("o_custkey").filter(col("o_custkey") < 50).distinct())
    // rows with the SAME keys inserted after the delete must survive
    t.append(o.filter(col("o_custkey") < 50 && col("o_orderkey") % 5 === 0))
    aggByStatus(t.scan())
  }

  // --- #7 update merge-on-read ----------------------------------------------
  def updateMor(spark: SparkSession, dir: String): DataFrame = {
    val t = mkOrders(spark)
    t.append(orders(spark, dir))
    t.update("o_orderstatus = 'O'", Map("o_totalprice" -> "o_totalprice + 10.0"),
      WriteMode.MergeOnRead)
    aggByStatus(t.scan())
  }

  // --- #8 update copy-on-write ----------------------------------------------
  def updateCow(spark: SparkSession, dir: String): DataFrame = {
    val t = mkOrders(spark)
    t.append(orders(spark, dir))
    t.update("o_orderpriority = '1-URGENT'", Map("o_totalprice" -> "o_totalprice + 10.0"),
      WriteMode.CopyOnWrite)
    t.scan().groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), d(sum(dec(col("o_totalprice")))).as("sum_total"))
      .orderBy("o_orderpriority")
  }

  // --- #9 deletion vectors (v3): two DV commits, vectors merge --------------
  def deleteDv(spark: SparkSession, dir: String): DataFrame = {
    val t = mkOrders(spark)
    t.append(orders(spark, dir))
    t.delete("o_orderkey % 7 = 0", WriteMode.DeletionVector)
    t.delete("o_orderkey % 11 = 0", WriteMode.DeletionVector)
    aggByStatus(t.scan())
  }

  // --- #10 schema evolution: add/rename/drop/promote, metadata-only --------
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, Scratch.table(),
      "p_partkey bigint, p_name string, p_type string, p_size int, p_retailprice double")
    val p = Tables(spark, dir, "part")
    t.append(p.filter(col("p_partkey") % 2 === 0)
      .select("p_partkey", "p_name", "p_type", "p_size", "p_retailprice"))
    t.renameColumn("p_retailprice", "price")
    t.dropColumn("p_type")
    t.addColumn("origin", "string", initialDefault = Some("'unknown'"))
    t.promoteType("p_size", "bigint")
    t.append(p.filter(col("p_partkey") % 2 === 1)
      .select(col("p_partkey"), col("p_name"), col("p_size").cast("bigint"),
        col("p_retailprice").as("price"), lit("new").as("origin")))
    t.scan().select("p_partkey", "p_name", "p_size", "price", "origin")
      .orderBy("p_partkey")
  }

  // --- #11 type promotion: int->bigint, float->double, no rewrite ----------
  def typePromotion(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, Scratch.table(), "k int, size int, price float")
    val p = Tables(spark, dir, "part")
    t.append(p.filter(col("p_partkey") % 2 === 0)
      .select(col("p_partkey").cast("int").as("k"), col("p_size").as("size"),
        col("p_retailprice").cast("float").as("price")))
    t.promoteType("size", "bigint")
    t.promoteType("price", "double")
    t.append(p.filter(col("p_partkey") % 2 === 1)
      .select(col("p_partkey").cast("int").as("k"), col("p_size").cast("bigint").as("size"),
        col("p_retailprice").as("price")))
    t.scan().select("k", "size", "price").orderBy("k")
  }

  // --- #12 column default values (v3) ---------------------------------------
  def columnDefaults(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, Scratch.table(), "o_orderkey bigint, o_totalprice double")
    val o = orders(spark, dir)
    t.append(o.filter(col("o_orderkey") % 2 === 0).select("o_orderkey", "o_totalprice"))
    t.addColumn("channel", "string", initialDefault = Some("'web'"))
    t.append(o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_totalprice"),
        when(col("o_orderkey") % 3 === 0, "app").otherwise("store").as("channel")))
    t.scan().groupBy(col("channel"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_keys"))
      .orderBy("channel")
  }

  // --- #13 time travel -------------------------------------------------------
  def timeTravel(spark: SparkSession, dir: String): DataFrame = {
    val t = mkOrders(spark)
    val o = orders(spark, dir)
    val s1 = t.append(o.filter(col("o_orderkey") % 2 === 0))
    t.append(o.filter(col("o_orderkey") % 2 === 1))
    val v1 = t.scan(snapshotId = Some(s1.snapshotId))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_keys"))
      .withColumn("version", lit("v1"))
    val v2 = t.scan()
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_keys"))
      .withColumn("version", lit("v2"))
    v1.unionByName(v2).select("version", "n", "sum_keys").orderBy("version")
  }

  // --- #14 maintenance: compaction + snapshot expiry -------------------------
  def compaction(spark: SparkSession, dir: String): DataFrame = {
    val t = mkOrders(spark)
    val o = orders(spark, dir)
    (0 until 4).foreach(i => t.append(o.filter(col("o_orderkey") % 4 === i)))
    t.delete("o_orderkey % 10 = 0", WriteMode.MergeOnRead)
    t.compact()
    t.expireSnapshots(System.currentTimeMillis() + 1000)
    aggByStatus(t.scan())
  }

  /** #14c the REST of the maintenance surface under the correctness gate
    * (rewriteDeleteFiles / compactSmallFiles / rewriteManifests /
    * removeOrphanFiles were spec-only before): MoR delete →
    * rewriteDeleteFiles (deletes materialize into data files) →
    * small-file compaction → manifest rewrite → aggressive expiry →
    * orphan sweep. The readback must equal the logical table through
    * all six steps, and the steps PROVE they did work through boolean
    * columns computed from live metadata / step counters — booleans,
    * not file counts, because file counts depend on session parallelism
    * while "no delete files remain live" and "the sweep removed
    * something" hold under any partitioning. A sweep that finds
    * nothing (or a delete-rewrite that leaves delete files live) fails
    * the hash gate loudly instead of silently degrading. */
  def maintenance(spark: SparkSession, dir: String): DataFrame = {
    val t = mkOrders(spark)
    val o = orders(spark, dir)
    (0 until 3).foreach(i => t.append(o.filter(col("o_orderkey") % 3 === i)))
    // two MoR deletes -> >=2 positional delete files, so the rewrite has
    // real coalescing work to prove (it no-ops below 2)
    t.delete("o_orderkey % 10 = 7", WriteMode.MergeOnRead)
    t.delete("o_orderkey % 10 = 4", WriteMode.MergeOnRead)
    t.rewriteDeleteFiles()
    val deletesCoalesced = t.liveFiles().count(_.fileType == "posdel") == 1
    t.compact() // materializes the deletes into rewritten data files
    val deletesGone = t.liveFiles().forall(_.fileType == "data")
    t.rewriteManifests()
    t.expireSnapshots(System.currentTimeMillis() + 1000, retainLast = 1)
    val orphans = t.removeOrphanFiles(System.currentTimeMillis() + 1000)
    aggByStatus(t.scan())
      .withColumn("deletes_coalesced", lit(deletesCoalesced))
      .withColumn("delete_files_gone", lit(deletesGone))
      .withColumn("orphans_swept", lit(orphans > 0))
  }

  /** Snapshot expiry with LIVE REFS: after main compacts away the files
    * the dev branch and v1 tag still list, an aggressive expiry (every
    * non-head, non-recent snapshot) must leave all three refs readable —
    * ref heads are gc roots, and files are deleted only when no
    * surviving snapshot lists them. The readback aggregates every ref
    * AFTER the expiry, so an over-eager gc fails the gate, not just a
    * spec. */
  def expireRefs(spark: SparkSession, dir: String): DataFrame = {
    val t = mkOrders(spark)
    val o = orders(spark, dir)
    t.append(o.filter(col("o_orderkey") % 2 === 0))
    t.createTag("v1")
    t.createBranch("dev")
    t.append(o.filter(col("o_orderkey") % 2 === 1), branch = "dev")
    t.delete("o_orderkey % 6 = 2", WriteMode.MergeOnRead)   // main diverges
    t.compact()                                             // main rewrites tag/branch files away
    t.expireSnapshots(System.currentTimeMillis() + 1000, retainLast = 1)
    def one(ref: String) = t.scan(ref = Some(ref))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_keys"))
      .withColumn("ref", lit(ref))
    one("dev").unionByName(one("main")).unionByName(one("v1"))
      .select("ref", "n", "sum_keys").orderBy("ref")
  }

  // --- #15 branching & tagging ----------------------------------------------
  def branchTag(spark: SparkSession, dir: String): DataFrame = {
    val t = mkOrders(spark)
    val o = orders(spark, dir)
    t.append(o.filter(col("o_orderkey") % 2 === 0))
    t.createTag("v1")
    t.createBranch("dev")
    t.append(o.filter(col("o_orderkey") % 2 === 1), branch = "dev")
    def one(ref: String) = t.scan(ref = Some(ref))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_keys"))
      .withColumn("ref", lit(ref))
    one("dev").unionByName(one("main")).unionByName(one("v1"))
      .select("ref", "n", "sum_keys").orderBy("ref")
  }

  /** Row-level ops ON A BRANCH while main diverges — the surface the
    * round-4 fuzzer caught resolving against the wrong ref (branch
    * deletes tombstoning main's positions). Now a permanent gate query:
    * a main CoW delete interleaves with a branch MoR delete and a branch
    * MoR update; each ref's readback must reflect ONLY its own lineage.
    * The oracle reconstructs both refs from the source table with the
    * ops' predicates composed in commit order. */
  def branchRowOps(spark: SparkSession, dir: String): DataFrame = {
    val t = mkOrders(spark)
    val o = orders(spark, dir)
    t.append(o.filter(col("o_orderkey") % 3 === 0))          // shared base
    t.createBranch("dev")
    t.append(o.filter(col("o_orderkey") % 3 === 1), branch = "dev")
    t.delete("o_orderkey % 2 = 0", WriteMode.CopyOnWrite)    // main only
    t.delete("o_orderkey % 5 = 1", WriteMode.MergeOnRead, branch = "dev")
    t.update("o_orderkey % 7 = 3", Map("o_totalprice" -> "o_totalprice + 50"),
      WriteMode.MergeOnRead, branch = "dev")
    def one(ref: String) = t.scan(ref = Some(ref))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), d(sum(dec(col("o_totalprice")))).as("sum_total"))
      .withColumn("ref", lit(ref))
    one("dev").unionByName(one("main"))
      .select("ref", "o_orderstatus", "n", "sum_total")
      .orderBy("ref", "o_orderstatus")
  }

  // --- snapshot rollback: undo a commit, then diverge ------------------------
  /** rollbackTo moves only the main ref; the undone snapshot stays
    * time-travelable and the next append diverges from the restored head */
  def rollback(spark: SparkSession, dir: String): DataFrame = {
    val t = mkOrders(spark)
    val o = orders(spark, dir)
    val s1 = t.append(o.filter(col("o_orderkey") % 3 === 0))
    t.append(o.filter(col("o_orderkey") % 3 === 1))
    t.rollbackTo(s1.snapshotId)
    t.append(o.filter(col("o_orderkey") % 3 === 2))
    aggByStatus(t.scan())
  }

  // --- write-audit-publish via branch + fast-forward -------------------------
  /** the WAP pattern: stage on an audit branch, validate THERE, then
    * publish by fast-forwarding main — readers of main never see
    * unaudited data, and the publish is a metadata-only atomic ref move */
  def wap(spark: SparkSession, dir: String): DataFrame = {
    val t = mkOrders(spark)
    val o = orders(spark, dir)
    t.append(o.filter(col("o_orderstatus") === "F"))
    t.createBranch("audit")
    t.append(o.filter(col("o_orderstatus") === "O"), branch = "audit")
    val bad = t.scan(ref = Some("audit"))
      .filter(col("o_totalprice") <= 0.0).count()
    require(bad == 0, s"audit failed: $bad non-positive totals staged")
    t.fastForward("main", "audit")
    aggByStatus(t.scan())
  }

  // --- write-time CHECK constraints ------------------------------------------
  /** Constraint lifecycle under enforcement: two CHECKs added (each
    * validated against existing data first), then a poisoned batch —
    * planted negative totals, mirroring the oracle — is REFUSED
    * atomically (the whole append, not just its bad rows: the inline
    * guard aborts the write job before the commit publishes), and a
    * clean batch proceeds. Final state = the two clean appends only;
    * the refusal's atomicity is what the oracle hash actually gates. */
  def checkConstraintsQ(spark: SparkSession, dir: String): DataFrame = {
    val t = mkOrders(spark)
    val o = orders(spark, dir)
    t.append(o.filter(col("o_orderkey") % 3 === 0))
    t.addConstraint("positive_total", "o_totalprice > 0.0")
    t.addConstraint("known_status", "o_orderstatus IN ('O', 'F', 'P')")
    val poisoned = o.filter(col("o_orderkey") % 3 === 1)
      .withColumn("o_totalprice", when(col("o_orderkey") % 5 === 0,
        -col("o_totalprice")).otherwise(col("o_totalprice")))
    val refused =
      try { t.append(poisoned); false }
      catch { case _: ConstraintViolationException => true }
    require(refused, "poisoned append was not refused")
    t.append(o.filter(col("o_orderkey") % 3 === 2))
    aggByStatus(t.scan())
  }

  // --- zero-copy shallow clone ----------------------------------------------
  /** [[GraftTable.shallowClone]] under divergence: the source gets two
    * appends AND a live MoR positional delete BEFORE the clone (so the
    * clone must carry the delete overlay by reference and resolve it
    * identically), then each side diverges with its own append — the
    * post-clone appends land only on their own table, and the pre-clone
    * delete keeps applying on BOTH (positional deletes address files, so
    * neither side's new rows are touched). The clone commit itself moves
    * zero data bytes (TableSpec pins no parquet under the clone tree
    * until its own append). */
  def tableClone(spark: SparkSession, dir: String): DataFrame = {
    val t = mkOrders(spark)
    val o = orders(spark, dir)
    t.append(o.filter(col("o_orderkey") % 4 === 0))
    t.append(o.filter(col("o_orderkey") % 4 === 1))
    t.delete("o_orderkey % 10 = 0", WriteMode.MergeOnRead)
    val c = t.shallowClone(Scratch.table())
    c.append(o.filter(col("o_orderkey") % 4 === 2))
    t.append(o.filter(col("o_orderkey") % 4 === 3))
    aggByStatus(t.scan()).withColumn("side", lit("source"))
      .unionByName(aggByStatus(c.scan()).withColumn("side", lit("clone")))
      .select("side", "o_orderstatus", "n", "sum_total")
      .orderBy("side", "o_orderstatus")
  }

  // --- incremental append scan (consumer-checkpoint read) --------------------
  /** three append batches; a consumer checkpointed at snapshot 1 reads
    * the delta (batches 2+3) via [[GraftTable.appendsBetween]] — the
    * manifest-pruned incremental read whose cost is the delta, not the
    * table (TableSpec pins that only the window's files are scanned) */
  def incrScan(spark: SparkSession, dir: String): DataFrame = {
    val t = mkOrders(spark)
    val o = orders(spark, dir)
    val s1 = t.append(o.filter(col("o_orderkey") % 3 === 0))
    t.append(o.filter(col("o_orderkey") % 3 === 1))
    t.append(o.filter(col("o_orderkey") % 3 === 2))
    aggByStatus(t.appendsBetween(s1.snapshotId))
  }

  // --- CDC changelog (insert/delete/update classification) -------------------
  /** one window over an append + a MoR delete + a CoW update; the
    * changelog must classify the net change per row id — including
    * rows inserted then updated in-window (squash to insert with the
    * final value) and unchanged rows carried through the CoW rewrite
    * (no change emitted) */
  def cdcChanges(spark: SparkSession, dir: String): DataFrame = {
    val t = mkOrders(spark)
    val o = orders(spark, dir)
    val s1 = t.append(o.filter(col("o_orderkey") % 2 === 0))
    t.append(o.filter(col("o_orderkey") % 2 === 1 && col("o_orderkey") % 5 =!= 0))
    t.delete("o_orderkey % 10 = 0", WriteMode.MergeOnRead)
    t.update("o_orderkey % 7 = 0", Map("o_totalprice" -> "o_totalprice + 1.0"))
    t.changes(s1.snapshotId)
      .groupBy(col("_change_type"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_keys"),
        d(sum(dec(col("o_totalprice")))).as("sum_total"))
      .orderBy("_change_type")
  }

  // --- #16 hidden partitioning: day(ts), pruning exercised -------------------
  def hiddenPartitioning(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, Scratch.table(),
      "event_id bigint, ts timestamp, user_id bigint, event_type string, value double",
      partitionBy = Seq("day(ts)"))
    t.append(Tables(spark, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value"))
    t.scan(filter = Some(
        "ts >= timestamp'2024-01-10 00:00:00' and ts < timestamp'2024-01-20 00:00:00'"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), d(sum(col("value").cast(DecimalType(18, 6)))).as("sum_value"))
      .orderBy("event_type")
  }

  /** dynamic partition overwrite: re-ingest ONE day of events with
    * corrected values; only that day's partition swaps, every other
    * partition's files survive untouched (the daily-backfill primitive) */
  def overwritePartitionsQuery(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, Scratch.table(),
      "event_id bigint, ts timestamp, user_id bigint, event_type string, value double",
      partitionBy = Seq("day(ts)"))
    val ev = Tables(spark, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    t.append(ev)
    val patch = ev.filter(to_date(col("ts")) === lit("2024-01-15"))
      .withColumn("value", col("value") * 2.0)
    t.overwritePartitions(patch)
    t.scan()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        d(sum(col("value").cast(DecimalType(18, 6)))).as("sum_value"))
      .orderBy("event_type")
  }

  // --- #16b escapable partition values (round-16, VERDICT r15 item 7) --------
  /** Partition values carrying every escapable path character the layout
    * must round-trip — space, '%', '=', '+' — driven through ALL FOUR
    * row-op shapes (CoW delete, MoR posdel, DV, CoW update). This is the
    * oracle-gated guard for the round-15 `_gf` encoding seam:
    * `_metadata.file_path` is URI-percent-encoded while manifest entries
    * and persisted delete targets are raw paths, and when `_gf` came from
    * it undecoded a CoW op on any escapable partition silently
    * resurrected its "deleted" rows. `_gf` is now the manifest path
    * itself (ManifestScanSpec pins the identity; this key makes the
    * DuckDB hash gate guard the seam end-to-end, permanently). */
  def escapedPartition(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, Scratch.table(),
      ordersDdl + ", o_tag string", partitionBy = Seq("o_tag"))
    // a third of orders is plenty for the seam — the key guards path
    // encoding, not scale (the write family's scale probe lives elsewhere)
    val o = orders(spark, dir).filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_tag",
        concat(lit("p "), (col("o_orderkey") % 4).cast("string"), lit("%x=y+z")))
    t.append(o)
    t.delete("o_orderkey % 10 = 3")
    t.delete("o_orderkey % 10 = 4", WriteMode.MergeOnRead)
    t.delete("o_orderkey % 10 = 5", WriteMode.DeletionVector)
    t.update("o_orderkey % 10 = 6", Map("o_totalprice" -> "o_totalprice + 1.0"))
    t.scan()
      .groupBy(col("o_tag"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_keys"),
        d(sum(dec(col("o_totalprice")))).as("sum_total"))
      .orderBy("o_tag")
  }

  // --- #17 partition evolution ----------------------------------------------
  def partitionEvolution(spark: SparkSession, dir: String): DataFrame = {
    val t = mkOrders(spark)
    val o = orders(spark, dir)
    t.append(o.filter(col("o_orderkey") % 2 === 0))
    t.updateSpec(Seq(GraftTable.parseSpecField("bucket(4, o_custkey)", t.meta.currentSchema)))
    t.append(o.filter(col("o_orderkey") % 2 === 1))
    t.scan(filter = Some("o_custkey < 100"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_keys"))
      .orderBy("o_orderstatus")
  }

  // --- #18 multi-argument bucket transform (v3) ------------------------------
  def multiargBucket(spark: SparkSession, dir: String): DataFrame = {
    val t = mkOrders(spark, partitionBy = Seq("bucket(8, o_custkey, o_orderkey)"))
    t.append(orders(spark, dir))
    t.scan(filter = Some("o_custkey < 25"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_keys"))
      .orderBy("o_custkey")
  }

  // --- #19 file statistics & manifest pruning --------------------------------
  def statsPruning(spark: SparkSession, dir: String): DataFrame = {
    val t = mkOrders(spark)
    val o = orders(spark, dir)
    // range-sliced appends -> disjoint per-file min/max on o_orderkey
    t.append(o.filter(col("o_orderkey") < 1000))
    t.append(o.filter(col("o_orderkey") >= 1000 && col("o_orderkey") < 5000))
    t.append(o.filter(col("o_orderkey") >= 5000 && col("o_orderkey") < 20000))
    t.append(o.filter(col("o_orderkey") >= 20000))
    t.scan(filter = Some("o_orderkey < 500"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_keys"))
      .orderBy("o_orderstatus")
  }

  // --- #20 parquet bloom filters via write options ---------------------------
  def bloomFilter(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, Scratch.table(), ordersDdl, Nil,
      // o_custkey is field id 2 -> physical column f2
      Map("write.option.parquet.bloom.filter.enabled#f2" -> "true",
        "write.option.parquet.bloom.filter.expected.ndv#f2" -> "20000"))
    t.append(orders(spark, dir))
    t.scan(filter = Some("o_custkey = 42"))
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  // --- z-order clustered writes: multi-dimensional data skipping ------------
  /** orders clustered on the (o_custkey, o_orderkey) z-curve; the filter
    * hits the SECOND z dimension, which a linear sort could not prune —
    * per-file min/max stay tight on both dims (see table/ZOrder.scala) */
  def zorderCluster(spark: SparkSession, dir: String): DataFrame = {
    val t = GraftTable.create(spark, Scratch.table(), ordersDdl, Nil,
      Map("write.zorder" -> "o_custkey,o_orderkey",
        "write.target-partitions" -> "16"))
    t.append(orders(spark, dir))
    t.scan(filter = Some("o_orderkey < 500"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_keys"))
      .orderBy("o_orderstatus")
  }

  // --- #21 catalog operations ------------------------------------------------
  /** filesystem backend (hadoop-catalog analog) */
  def catalogOps(spark: SparkSession, @unused dir: String): DataFrame =
    catalogOpsOn(spark, wh => new GraftCatalog(spark, wh))

  /** Derby pointer backend (jdbc-catalog analog) — the SAME lifecycle and
    * the SAME oracle rows as q_catalog: the backends are interchangeable
    * behind [[graft.table.Catalog]], which is the pluggability claim this
    * query certifies. Rename here is a single pointer UPDATE (no data
    * move), the shape that survives object storage at 100 TB. */
  def catalogOpsJdbc(spark: SparkSession, @unused dir: String): DataFrame =
    catalogOpsOn(spark,
      wh => new JdbcGraftCatalog(spark, JdbcGraftCatalog.defaultUrl(wh), wh))

  /** HTTP pointer backend (rest-catalog analog) — SAME lifecycle, SAME
    * oracle rows as q_catalog/q_catalog_jdbc; the pointer service is the
    * in-process [[graft.table.RestCatalogServer]] (the production shape
    * points `spark.graft.catalog.rest.url` at a long-lived service,
    * which is how N drivers share one catalog without a shared
    * filesystem or embedded database). */
  def catalogOpsRest(spark: SparkSession, @unused dir: String): DataFrame = {
    val srv = RestCatalogServer.start()
    try catalogOpsOn(spark, wh => new RestGraftCatalog(spark, srv.url, wh))
    finally srv.stop()
  }

  private def catalogOpsOn(spark: SparkSession,
      mk: String => Catalog): DataFrame = {
    import spark.implicits._
    val wh = Scratch.dir("wh").toString
    val cat = mk(wh)
    cat.createNamespace("db1")
    cat.createNamespace("db2")
    val t1 = cat.createTable("db1", "t1", "k bigint, v string")
    t1.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    cat.createTable("db1", "tmp", "k bigint")
    cat.createTable("db2", "t2", "k bigint")
    cat.renameTable("db2", "t2", "t2b")
    cat.dropTable("db1", "tmp")
    val listing = for (ns <- cat.listNamespaces(); tb <- cat.listTables(ns))
      yield (ns, tb)
    val rows = listing.toDF("ns", "tbl")
    val n1 = cat.loadTable("db1", "t1").scan().count()
    rows.withColumn("rows_in_t1", lit(n1)).orderBy("ns", "tbl")
  }

  /** Metadata-table inspection through the gate — the Iceberg
    * `tbl$snapshots` / `$refs` / `$partitions` / `$history` surface
    * (reference: inspection is how its UI answers "what state is this
    * table in" without scanning data). A fixed literal build (so the
    * answer is SF-independent, like q_catalog) makes four inspection
    * reads and flattens them to (kind, k, v) STRING rows: snapshot
    * operations + schema, ref heads, per-partition row counts (from
    * manifests only — no data file is opened), and main-ancestry flags.
    * Timestamps and file counts are deliberately excluded: they depend
    * on wall clock / write parallelism, and the gate needs exact rows. */
  def metaTablesQ(spark: SparkSession, @unused dir: String): DataFrame = {
    import spark.implicits._
    val t = GraftTable.create(spark, Scratch.table(),
      "id bigint, status string, total double", Seq("identity(status)"))
    val rows = (1L to 30L).map(i => (i, if (i % 3 == 0) "A" else "B", i * 1.5))
    t.append(rows.toDF("id", "status", "total"))                    // snap 1
    t.createTag("v1", at = Some(1L))
    t.delete("id % 5 = 0", WriteMode.CopyOnWrite)                   // snap 2
    t.createBranch("audit", at = Some(1L))
    t.append(Seq((100L, "A", 9.0)).toDF("id", "status", "total"),
      branch = "audit")                                             // snap 3
    val snaps = t.metaTable("snapshots").select(
      lit("snapshot").as("kind"), col("snapshot_id").cast("string").as("k"),
      concat_ws(":", col("operation"), col("schema_id")).as("v"))
    val refs = t.metaTable("refs").select(
      lit("ref").as("kind"), col("name").as("k"),
      concat_ws(":", col("type"), col("snapshot_id")).as("v"))
    val parts = t.metaTable("partitions").select(
      lit("partition").as("kind"), col("partition").as("k"),
      col("row_count").cast("string").as("v"))
    val hist = t.metaTable("history").select(
      lit("history").as("kind"), col("snapshot_id").cast("string").as("k"),
      col("is_current_ancestor").cast("string").as("v"))
    snaps.unionByName(refs).unionByName(parts).unionByName(hist)
      .orderBy("kind", "k")
  }

  // --- SQL DML: the reference's native surface (MERGE/UPDATE/DELETE/INSERT
  // as Spark SQL statements — tests/iceberg_feature_tests.py:520-780) ---------

  /** run `body` in a sibling session with GraftExtensions injected (same
    * SparkContext); the result is re-materialized on the caller's session
    * so Verify/Bench never hold a frame bound to the sub-session. The
    * hand-off is a distributed temp-parquet round-trip, never a driver
    * collect — the result frame stays executor-resident however large the
    * DML readback is. */
  private def withSqlSession(spark: SparkSession)(
      body: SparkSession => DataFrame): DataFrame = {
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    try {
      val s2 = graft.Tables.SessionConfs.foldLeft(SparkSession.builder()
        .config("spark.sql.shuffle.partitions",
          spark.conf.get("spark.sql.shuffle.partitions"))
        .config("spark.sql.session.timeZone", "UTC")
        .withExtensions(new graft.functions.GraftExtensions())) {
          case (b, (k, v)) => b.config(k, v) }
        .getOrCreate()
      val df = body(s2)
      // a result with zero partitions (empty relation) writes no parquet
      // footers and would fail schema inference on read-back
      val out = df.queryExecution.toRdd.getNumPartitions match {
        case 0 => df.repartition(1)
        case _ => df
      }
      // Scratch (not a bare temp dir): the returned frame stays lazily
      // bound to this path, so it must live exactly as long as the JVM —
      // the shutdown-hook cleanup gives that without leaking per-call dirs
      val dir = graft.Scratch.dir("sqlout").toString
      out.write.parquet(s"$dir/r")
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
      spark.read.parquet(s"$dir/r")
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  /** INSERT / UPDATE / DELETE statements end to end: each is one atomic
    * snapshot commit through the same paths the DataFrame API uses */
  def sqlDml(spark: SparkSession, dir: String): DataFrame =
    withSqlSession(spark) { s2 =>
      val wh = Scratch.dir("sqlwh").toString
      s2.conf.set("spark.graft.warehouse", wh)
      new GraftCatalog(s2, wh).createTable("db", "o", ordersDdl)
      Tables(s2, dir, "orders").createOrReplaceTempView("orders_src")
      s2.sql("INSERT INTO graft.db.o SELECT * FROM orders_src WHERE o_orderkey % 2 = 1")
      s2.sql("UPDATE graft.db.o SET o_totalprice = o_totalprice + 1000.0 " +
        "WHERE o_orderstatus = 'F'")
      s2.sql("DELETE FROM graft.db.o WHERE o_orderkey % 10 = 3")
      s2.sql("""SELECT o_orderstatus, COUNT(*) AS n,
               |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
               |FROM graft.db.o GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }

  /** MERGE INTO statement: same data shape as q_merge_upsert, driven
    * through SQL with user aliases — shares that query's oracle shape */
  def sqlMerge(spark: SparkSession, dir: String): DataFrame =
    withSqlSession(spark) { s2 =>
      val wh = Scratch.dir("sqlwh").toString
      s2.conf.set("spark.graft.warehouse", wh)
      val t = new GraftCatalog(s2, wh).createTable("db", "m", ordersDdl)
      val o = Tables(s2, dir, "orders")
      t.append(o.filter(col("o_orderkey") % 2 === 0))
      o.filter(col("o_orderkey") % 4 === 1 || col("o_orderkey") % 4 === 2)
        .select(col("o_orderkey").as("k"), col("o_custkey"), col("o_orderstatus"),
          (col("o_totalprice") + 1000.0).as("newprice"),
          col("o_orderdate"), col("o_orderpriority"))
        .createOrReplaceTempView("msrc")
      s2.sql("""MERGE INTO graft.db.m tgt USING msrc src ON tgt.o_orderkey = src.k
               |WHEN MATCHED THEN UPDATE SET o_totalprice = src.newprice
               |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_orderstatus,
               |  o_totalprice, o_orderdate, o_orderpriority)
               |  VALUES (src.k, src.o_custkey, src.o_orderstatus, src.newprice,
               |          src.o_orderdate, src.o_orderpriority)""".stripMargin)
      s2.sql("""SELECT o_orderpriority, COUNT(*) AS n,
               |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
               |FROM graft.db.m GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }

  /** the whole SQL lifecycle in one pass: CREATE TABLE with a hidden
    * bucket partition spec, INSERT, ALTER ADD COLUMNS with a v3
    * initial-default (applies to pre-existing rows at read, no rewrite),
    * a second INSERT carrying the new column, aggregate readback */
  def sqlLifecycle(spark: SparkSession, dir: String): DataFrame =
    withSqlSession(spark) { s2 =>
      val wh = Scratch.dir("sqlwh").toString
      s2.conf.set("spark.graft.warehouse", wh)
      Tables(s2, dir, "orders").createOrReplaceTempView("orders_src")
      s2.sql(s"CREATE TABLE graft.db.lc ($ordersDdl) " +
        "PARTITIONED BY (bucket(8, o_orderkey))")
      s2.sql("INSERT INTO graft.db.lc SELECT * FROM orders_src WHERE o_orderkey % 2 = 0")
      s2.sql("ALTER TABLE graft.db.lc ADD COLUMNS (channel STRING DEFAULT 'web')")
      s2.sql("INSERT INTO graft.db.lc " +
        "SELECT *, 'store' AS channel FROM orders_src WHERE o_orderkey % 4 = 1")
      s2.sql("""SELECT channel, o_orderstatus, COUNT(*) AS n,
               |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
               |FROM graft.db.lc
               |GROUP BY channel, o_orderstatus
               |ORDER BY channel, o_orderstatus""".stripMargin)
    }

  /** CREATE TABLE AS SELECT and CREATE OR REPLACE TABLE AS SELECT through
    * plain `spark.sql` — the table-creation-from-query surface
    * (reference CI: `tests/iceberg_feature_tests.py` CTAS statements).
    * The query's analyzed schema becomes the table schema; partitioning
    * transforms and properties apply as in plain CREATE; data lands as
    * the first snapshot in one commit. */
  def sqlCtas(spark: SparkSession, dir: String): DataFrame =
    withSqlSession(spark) { s2 =>
      val wh = Scratch.dir("ctaswh").toString
      s2.conf.set("spark.graft.warehouse", wh)
      Tables(s2, dir, "orders").createOrReplaceTempView("orders_src")
      s2.sql("CREATE TABLE graft.db.ctas PARTITIONED BY (bucket(4, o_orderkey)) " +
        "TBLPROPERTIES ('write.sort'='o_orderkey') AS " +
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders_src " +
        "WHERE o_orderkey % 2 = 0")
      s2.sql("CREATE OR REPLACE TABLE graft.db.ctas AS " +
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders_src " +
        "WHERE o_orderkey % 3 = 0")
      s2.sql("""SELECT o_orderstatus, COUNT(*) AS n,
               |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
               |FROM graft.db.ctas
               |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }

  /** add_files migration: register the EXISTING supplier parquet into a
    * graft table without rewriting a byte (name-mapped, read in place),
    * then run row-level ops on top — a MoR delete masks imported rows,
    * proving imported files are first-class citizens of the format. */
  def addFilesQuery(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables(spark, dir, "supplier")
    val t = GraftTable.create(spark, Scratch.table(), src.schema.toDDL)
    t.addFiles(s"$dir/supplier.parquet")
    t.delete("s_suppkey % 10 = 0", WriteMode.MergeOnRead)
    t.scan()
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("s_acctbal"))).cast("double").as("sum_bal"))
      .orderBy("s_nationkey")
  }

  /** Time-travel DIFF through plain SQL set operations: `VERSION AS OF 2
    * EXCEPT VERSION AS OF 1` — the audit query "what did commit 2 add"
    * expressed with nothing but the SQL surface (two pinned snapshot
    * reads + a distributed anti-join EXCEPT); the lineage-based
    * changes() API is the general CDC path, this is the ad-hoc one. */
  def sqlTimeDiff(spark: SparkSession, dir: String): DataFrame =
    withSqlSession(spark) { s2 =>
      val wh = Scratch.dir("tdwh").toString
      s2.conf.set("spark.graft.warehouse", wh)
      Tables(s2, dir, "orders").createOrReplaceTempView("orders_src")
      s2.sql("CREATE TABLE graft.db.td AS " +
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders_src " +
        "WHERE o_orderkey % 3 = 0")
      s2.sql("INSERT INTO graft.db.td " +
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders_src " +
        "WHERE o_orderkey % 3 = 1")
      s2.sql("""SELECT o_orderstatus, COUNT(*) AS n,
               |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
               |FROM (
               |  SELECT * FROM graft.db.td VERSION AS OF 2
               |  EXCEPT
               |  SELECT * FROM graft.db.td VERSION AS OF 1
               |)
               |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }

  /** CDC replication: a replica table is maintained purely from the
    * source's `changes()` stream — inserts append, updates MERGE,
    * deletes anti-join — and must converge to the source's exact state.
    * This is the cross-system replication pattern (warm standby, region
    * mirror): the replica's refresh cost is the CHANGE window, never the
    * table. */
  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir)
    val src = mkOrders(spark)
    val s1 = src.append(o.filter(col("o_orderkey") % 2 === 0))
    // replica syncs to snapshot 1
    val rep = mkOrders(spark)
    rep.append(src.scan(snapshotId = Some(s1.snapshotId)))
    // source moves on: insert + update + delete
    src.append(o.filter(col("o_orderkey") % 2 === 1))
    src.update("o_orderkey % 7 = 0", Map("o_totalprice" -> "o_totalprice + 5.0"),
      WriteMode.MergeOnRead)
    src.delete("o_orderkey % 10 = 0", WriteMode.MergeOnRead)
    // apply the change window to the replica. localCheckpoint: the window
    // feeds THREE consumers (insert append, update merge, delete keys) —
    // without it the lineage classification join re-runs per consumer.
    // The window is O(changes) rows, the thing CDC bounds by design.
    val ch = src.changes(s1.snapshotId).localCheckpoint()
    val inserts = ch.filter(col("_change_type") === "insert")
      .drop("_change_type", "_row_id", "_last_updated_sequence_number")
    rep.append(inserts)
    val updates = ch.filter(col("_change_type") === "update_after")
      .drop("_change_type", "_row_id", "_last_updated_sequence_number")
    rep.merge(updates, on = "t.o_orderkey = s.o_orderkey",
      matchedSet = Map("o_totalprice" -> "s.o_totalprice"))
    val deletes = ch.filter(col("_change_type") === "delete")
      .select(col("o_orderkey"))
    rep.deleteByKeys(deletes)
    // the replica must equal the source — emit its aggregate state
    rep.scan()
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("sum_keys"),
        d(sum(dec(col("o_totalprice")))).as("sum_total"))
      .orderBy("o_orderstatus")
  }

  // --- registry --------------------------------------------------------------
  val queries: Map[String, Q] = Map(
    "q_cdc_apply" -> cdcApply,
    "q_sql_timediff" -> sqlTimeDiff,
    "q_add_files" -> addFilesQuery,
    "q_sql_ctas" -> sqlCtas,
    "q_sql_dml" -> sqlDml,
    "q_sql_merge" -> sqlMerge,
    "q_sql_lifecycle" -> sqlLifecycle,
    "q_table_create" -> tableCreate,
    "q_read_filter_project" -> readFilterProject,
    "q_write_insert" -> writeInsert,
    "q_merge_upsert" -> mergeUpsert,
    "q_delete_positional" -> deletePositional,
    "q_delete_equality" -> deleteEquality,
    "q_update_mor" -> updateMor,
    "q_update_cow" -> updateCow,
    "q_delete_dv" -> deleteDv,
    "q_schema_evolution" -> schemaEvolution,
    "q_type_promotion" -> typePromotion,
    "q_column_defaults" -> columnDefaults,
    "q_time_travel" -> timeTravel,
    "q_compaction" -> compaction,
    "q_branch_tag" -> branchTag,
    "q_branch_rowops" -> branchRowOps,
    "q_expire_refs" -> expireRefs,
    "q_maintenance" -> maintenance,
    "q_rollback" -> rollback,
    "q_wap" -> wap,
    "q_table_clone" -> tableClone,
    "q_check_constraints" -> checkConstraintsQ,
    "q_cdc_changes" -> cdcChanges,
    "q_incr_scan" -> incrScan,
    "q_hidden_partitioning" -> hiddenPartitioning,
    "q_overwrite_partitions" -> overwritePartitionsQuery,
    "q_escaped_partition" -> escapedPartition,
    "q_partition_evolution" -> partitionEvolution,
    "q_multiarg_bucket" -> multiargBucket,
    "q_stats_pruning" -> statsPruning,
    "q_bloom_filter" -> bloomFilter,
    "q_zorder" -> zorderCluster,
    "q_catalog" -> catalogOps,
    "q_catalog_jdbc" -> catalogOpsJdbc,
    "q_catalog_rest" -> catalogOpsRest,
    "q_meta_tables" -> metaTablesQ)

  private val sumTotal =
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total"

  val oracles: Map[String, String] = Map(
    "q_cdc_apply" ->
      """WITH f AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 5.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE NOT (o_orderkey % 10 = 0))
        |SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM f GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_sql_timediff" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM orders WHERE o_orderkey % 3 = 1
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_add_files" ->
      """SELECT s_nationkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM supplier WHERE NOT (s_suppkey % 10 = 0)
        |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    "q_sql_ctas" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM orders WHERE o_orderkey % 3 = 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_sql_lifecycle" ->
      """WITH rows_all AS (
        |  SELECT 'web' AS channel, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT 'store' AS channel, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 4 = 1)
        |SELECT channel, o_orderstatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM rows_all GROUP BY channel, o_orderstatus
        |ORDER BY channel, o_orderstatus""".stripMargin,
    "q_sql_dml" ->
      """WITH base AS (SELECT * FROM orders WHERE o_orderkey % 2 = 1),
        |upd AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CASE WHEN o_orderstatus = 'F' THEN o_totalprice + 1000.0
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM base),
        |fin AS (SELECT * FROM upd WHERE NOT (o_orderkey % 10 = 3))
        |SELECT o_orderstatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM fin GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_sql_merge" ->
      s"""WITH tgt AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
         |src AS (
         |  SELECT o_orderkey AS k, o_custkey, o_orderstatus,
         |         o_totalprice + 1000.0 AS newprice, o_orderdate, o_orderpriority
         |  FROM orders WHERE o_orderkey % 4 IN (1, 2)),
         |merged AS (
         |  SELECT t.o_orderpriority,
         |         CASE WHEN s.k IS NOT NULL THEN s.newprice ELSE t.o_totalprice END AS o_totalprice
         |  FROM tgt t LEFT JOIN src s ON t.o_orderkey = s.k
         |  UNION ALL
         |  SELECT s.o_orderpriority, s.newprice
         |  FROM src s LEFT JOIN tgt t ON s.k = t.o_orderkey
         |  WHERE t.o_orderkey IS NULL)
         |SELECT o_orderpriority, COUNT(*) AS n, $sumTotal
         |FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_rollback" ->
      aggByStatusSql.replace("%SRC%",
        "(SELECT * FROM orders WHERE o_orderkey % 3 IN (0, 2))"),
    "q_wap" ->
      aggByStatusSql.replace("%SRC%",
        "(SELECT * FROM orders WHERE o_orderstatus IN ('F', 'O'))"),
    // the poisoned %3=1 batch is refused ATOMICALLY — final state is the
    // two clean appends only
    "q_check_constraints" ->
      aggByStatusSql.replace("%SRC%",
        "(SELECT * FROM orders WHERE o_orderkey % 3 IN (0, 2))"),
    // pre-clone state = %4 in (0,1) minus the %10 posdel; each side adds
    // its own post-clone append, untouched by the earlier positional delete
    "q_table_clone" ->
      """WITH pre AS (
        |  SELECT * FROM orders
        |  WHERE o_orderkey % 4 IN (0, 1) AND o_orderkey % 10 <> 0),
        |u AS (
        |  SELECT 'source' AS side, o_orderstatus, o_totalprice FROM pre
        |  UNION ALL SELECT 'source', o_orderstatus, o_totalprice
        |    FROM orders WHERE o_orderkey % 4 = 3
        |  UNION ALL SELECT 'clone', o_orderstatus, o_totalprice FROM pre
        |  UNION ALL SELECT 'clone', o_orderstatus, o_totalprice
        |    FROM orders WHERE o_orderkey % 4 = 2)
        |SELECT side, o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM u GROUP BY side, o_orderstatus ORDER BY side, o_orderstatus""".stripMargin,
    "q_cdc_changes" ->
      """WITH base AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
        |ins0 AS (SELECT * FROM orders
        |         WHERE o_orderkey % 2 = 1 AND o_orderkey % 5 <> 0),
        |dels AS (SELECT * FROM base WHERE o_orderkey % 10 = 0),
        |upd AS (SELECT * FROM base
        |        WHERE o_orderkey % 7 = 0 AND o_orderkey % 10 <> 0),
        |ch AS (
        |  SELECT 'insert' AS _change_type, o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS p
        |  FROM ins0
        |  UNION ALL SELECT 'delete', o_orderkey, o_totalprice FROM dels
        |  UNION ALL SELECT 'update_before', o_orderkey, o_totalprice FROM upd
        |  UNION ALL SELECT 'update_after', o_orderkey, o_totalprice + 1.0 FROM upd)
        |SELECT _change_type, COUNT(*) AS n,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys,
        |  CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM ch GROUP BY _change_type ORDER BY _change_type""".stripMargin,
    "q_table_create" ->
      ("SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, " +
        "CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation ORDER BY n_nationkey"),
    "q_read_filter_project" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > 150000.0 AND o_orderstatus = 'O'
        |ORDER BY o_orderkey""".stripMargin,
    "q_write_insert" ->
      aggByStatusSql.replace("%SRC%",
        "(SELECT * FROM orders WHERE o_orderkey % 3 IN (0, 1))"),
    "q_merge_upsert" ->
      s"""WITH tgt AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
         |src AS (
         |  SELECT o_orderkey AS k, o_custkey, o_orderstatus,
         |         o_totalprice + 1000.0 AS newprice, o_orderdate, o_orderpriority
         |  FROM orders WHERE o_orderkey % 4 IN (1, 2)),
         |merged AS (
         |  SELECT t.o_orderpriority,
         |         CASE WHEN s.k IS NOT NULL THEN s.newprice ELSE t.o_totalprice END AS o_totalprice
         |  FROM tgt t LEFT JOIN src s ON t.o_orderkey = s.k
         |  UNION ALL
         |  SELECT s.o_orderpriority, s.newprice
         |  FROM src s LEFT JOIN tgt t ON s.k = t.o_orderkey
         |  WHERE t.o_orderkey IS NULL)
         |SELECT o_orderpriority, COUNT(*) AS n, $sumTotal
         |FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_delete_positional" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n, $sumTotal
         |FROM orders WHERE o_orderstatus <> 'F'
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_delete_equality" ->
      aggByStatusSql.replace("%SRC%",
        """(SELECT * FROM orders WHERE o_custkey >= 50
          | UNION ALL
          | SELECT * FROM orders WHERE o_custkey < 50 AND o_orderkey % 5 = 0)""".stripMargin),
    "q_update_mor" ->
      aggByStatusSql.replace("%SRC%",
        """(SELECT o_orderstatus,
          |   CASE WHEN o_orderstatus = 'O' THEN o_totalprice + 10.0
          |        ELSE o_totalprice END AS o_totalprice
          | FROM orders)""".stripMargin),
    "q_update_cow" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n, $sumTotal
         |FROM (SELECT o_orderpriority,
         |        CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice + 10.0
         |             ELSE o_totalprice END AS o_totalprice
         |      FROM orders) t
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_delete_dv" ->
      aggByStatusSql.replace("%SRC%",
        "(SELECT * FROM orders WHERE NOT (o_orderkey % 7 = 0 OR o_orderkey % 11 = 0))"),
    "q_schema_evolution" ->
      """SELECT p_partkey, p_name, CAST(p_size AS BIGINT) AS p_size,
        | p_retailprice AS price,
        | CASE WHEN p_partkey % 2 = 0 THEN 'unknown' ELSE 'new' END AS origin
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q_type_promotion" ->
      """SELECT CAST(p_partkey AS INT) AS k, CAST(p_size AS BIGINT) AS size,
        | CASE WHEN p_partkey % 2 = 0 THEN CAST(CAST(p_retailprice AS REAL) AS DOUBLE)
        |      ELSE p_retailprice END AS price
        |FROM part ORDER BY k""".stripMargin,
    "q_column_defaults" ->
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'web'
        |            WHEN o_orderkey % 3 = 0 THEN 'app' ELSE 'store' END AS channel,
        | COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_time_travel" ->
      """SELECT 'v1' AS version, COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT 'v2', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT) FROM orders
        |ORDER BY version""".stripMargin,
    "q_compaction" ->
      aggByStatusSql.replace("%SRC%",
        "(SELECT * FROM orders WHERE o_orderkey % 10 <> 0)"),
    "q_incr_scan" ->
      aggByStatusSql.replace("%SRC%",
        "(SELECT * FROM orders WHERE o_orderkey % 3 <> 0)"),
    "q_maintenance" ->
      ("SELECT o_orderstatus, n, sum_total, TRUE AS deletes_coalesced, " +
        "TRUE AS delete_files_gone, TRUE AS orphans_swept FROM (" +
        aggByStatusSql.replace("%SRC%",
          "(SELECT * FROM orders WHERE o_orderkey % 10 NOT IN (7, 4))") +
        ") ORDER BY o_orderstatus"),
    "q_branch_rowops" ->
      """WITH mainref AS (
        |  SELECT o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 <> 0),
        |dev AS (
        |  SELECT o_orderstatus,
        |    CASE WHEN o_orderkey % 7 = 3 THEN o_totalprice + 50
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 5 <> 1),
        |u AS (
        |  SELECT 'dev' AS ref, o_orderstatus, o_totalprice FROM dev
        |  UNION ALL
        |  SELECT 'main', o_orderstatus, o_totalprice FROM mainref)
        |SELECT ref, o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM u GROUP BY ref, o_orderstatus
        |ORDER BY ref, o_orderstatus""".stripMargin,
    "q_branch_tag" ->
      """SELECT 'dev' AS ref, COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys FROM orders
        |UNION ALL
        |SELECT 'main', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT) FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT 'v1', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT) FROM orders WHERE o_orderkey % 2 = 0
        |ORDER BY ref""".stripMargin,
    "q_expire_refs" ->
      """SELECT 'dev' AS ref, COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys FROM orders
        |UNION ALL
        |SELECT 'main', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT) FROM orders
        | WHERE o_orderkey % 2 = 0 AND o_orderkey % 6 <> 2
        |UNION ALL
        |SELECT 'v1', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT) FROM orders WHERE o_orderkey % 2 = 0
        |ORDER BY ref""".stripMargin,
    "q_hidden_partitioning" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_escaped_partition" ->
      """SELECT CONCAT('p ', CAST(o_orderkey % 4 AS VARCHAR), '%x=y+z') AS o_tag,
        | COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys,
        | CAST(SUM(CAST(CASE WHEN o_orderkey % 10 = 6
        |   THEN o_totalprice + 1.0 ELSE o_totalprice END
        |   AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 10 NOT IN (3, 4, 5)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_overwrite_partitions" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-15'
        |   THEN value * 2.0 ELSE value END AS DECIMAL(18,6))) AS DOUBLE)
        |   AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_partition_evolution" ->
      """SELECT o_orderstatus, COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders WHERE o_custkey < 100
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_multiarg_bucket" ->
      """SELECT o_custkey, COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders WHERE o_custkey < 25
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q_stats_pruning" ->
      """SELECT o_orderstatus, COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders WHERE o_orderkey < 500
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_bloom_filter" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_custkey = 42 ORDER BY o_orderkey""".stripMargin,
    "q_zorder" ->
      """SELECT o_orderstatus, COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders WHERE o_orderkey < 500
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_catalog" ->
      """SELECT ns, tbl, CAST(rows_in_t1 AS BIGINT) AS rows_in_t1
        |FROM (VALUES ('db1', 't1', 2), ('db2', 't2b', 2))
        | AS t(ns, tbl, rows_in_t1) ORDER BY ns, tbl""".stripMargin,
    // identical rows BY DESIGN: the jdbc pointer backend must be
    // indistinguishable from the filesystem backend through the Catalog API
    "q_catalog_jdbc" ->
      """SELECT ns, tbl, CAST(rows_in_t1 AS BIGINT) AS rows_in_t1
        |FROM (VALUES ('db1', 't1', 2), ('db2', 't2b', 2))
        | AS t(ns, tbl, rows_in_t1) ORDER BY ns, tbl""".stripMargin,
    // same rows a third time BY DESIGN: the REST pointer backend must be
    // indistinguishable from fs/jdbc through the Catalog API
    "q_catalog_rest" ->
      """SELECT ns, tbl, CAST(rows_in_t1 AS BIGINT) AS rows_in_t1
        |FROM (VALUES ('db1', 't1', 2), ('db2', 't2b', 2))
        | AS t(ns, tbl, rows_in_t1) ORDER BY ns, tbl""".stripMargin,
    // the literal build is SF-independent, so the expected inspection
    // rows are closed-form: 30 rows (10 A / 20 B), CoW delete of the 6
    // id%5=0 rows (2 A / 4 B), a tag at snap 1, a branch forked at 1
    // with one append — partition counts 8/16, main ancestry {1,2}
    "q_meta_tables" ->
      """SELECT kind, k, v FROM (VALUES
        |  ('history', '1', 'true'), ('history', '2', 'true'),
        |  ('history', '3', 'false'),
        |  ('partition', 'status=A', '8'), ('partition', 'status=B', '16'),
        |  ('ref', 'audit', 'BRANCH:3'), ('ref', 'main', 'BRANCH:2'),
        |  ('ref', 'v1', 'TAG:1'),
        |  ('snapshot', '1', 'append:0'), ('snapshot', '2', 'delete:0'),
        |  ('snapshot', '3', 'append:0')) AS t(kind, k, v)
        |ORDER BY kind, k""".stripMargin)
}
