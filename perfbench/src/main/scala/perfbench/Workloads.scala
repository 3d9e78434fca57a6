package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.table.{GraftTable, Meta, Pruning, WriteMode}

/** Calls shared by the table workloads; in a traced pass every call is a
  * span, and `probe` calls are extra metadata reads made just before an
  * op to measure the metadata plane and pruning. */
object TableOps {
  def collect(ctx: Ctx, df: => DataFrame): Option[(Array[Row], StructType)] = {
    val d = ctx.tracer.span("scan.build")(df)
    val rows = ctx.tracer.span("exec")(d.collect())
    Some((rows, d.schema))
  }

  /** metadata-plane and pruning probes for one op; the figures go to the
    * op's result line */
  def probe(ctx: Ctx, t: GraftTable, filter: Option[String], ref: Option[String]): Map[String, Any] =
    if (!ctx.tracer.enabled) Map.empty
    else {
      val tr = ctx.tracer
      val loc = t.location
      val m = tr.span("meta.read", probe = true)(Meta.readJson(loc))
      val json = Fs.currentJsonBytes(loc)
      val versions = Fs.filesUnder(loc, "metadata")
      val refName = ref.getOrElse("main")
      val snap = m.head(refName)
      val entries = snap.toSeq.flatMap(s =>
        tr.span("meta.manifest_read", probe = true)(Meta.readEntries(loc, s)))
      val data = entries.filter(_.fileType == "data")
      val live = data.size
      // the pruning step of `GraftTable.prunedFiles`, on the metadata and
      // entries read above, so `prune` times pruning alone
      val planned = filter.map(f => tr.span("prune", probe = true) {
        val preds = Pruning.extract(f, ctx.spark)
        data.count(Pruning.fileMatches(_, m, preds))
      })
      Map("meta_ref" -> refName, "meta_json_bytes" -> json, "meta_version_files" -> versions,
        "meta_segments" -> snap.map(_.manifests.size).getOrElse(0), "meta_entries" -> entries.size,
        "prune_files_live" -> live, "prune_files_planned" -> planned.getOrElse(live),
        "deletes_posdel" -> entries.count(_.fileType == "posdel"),
        "deletes_dv" -> entries.count(_.fileType == "dv"),
        "deletes_eqdel" -> entries.count(_.fileType == "eqdel"))
    }

  /** files that returned at least one row for `filter` (precision probe) */
  def filesHit(ctx: Ctx, t: GraftTable, filter: String): Map[String, Any] =
    if (!ctx.tracer.enabled) Map.empty
    else Map("prune_files_hit" -> ctx.tracer.span("prune.hit", probe = true)(
      t.scan(filter = Some(filter), withPos = true)
        .select("_gf").distinct().collect().length))

  def dirBytes(loc: String): Map[String, Long] = Map(
    "data" -> Fs.bytesUnder(loc, "data"), "deletes" -> Fs.bytesUnder(loc, "deletes"),
    "meta" -> Fs.bytesUnder(loc, "metadata"), "files" -> Fs.filesUnder(loc))

  def str(n: JsonNode, k: String): String = n.get(k).asText()
  def long(n: JsonNode, k: String): Long = n.get(k).asLong()
}

/** Write-heavy: time-ordered small appends to a day(ts)-partitioned table
  * with interleaved row-level ops and periodic maintenance. */
object Ingest {
  import TableOps._

  val Ddl = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
  val Cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val warm = ctx.plan("ingest/warmup.jsonl")
    val ops = ctx.plan("ingest/ops.jsonl")
    def batch(n: JsonNode) = spark.read.parquet(s"${ctx.dataDir}/ingest/${str(n, "file")}")
    def create(name: String): GraftTable = {
      val loc = s"${ctx.workDir}/$name"
      Fs.rmTree(loc)
      GraftTable.create(spark, loc, Ddl, partitionBy = Seq("day(ts)"))
    }

    def apply(t: GraftTable, n: JsonNode): Unit = str(n, "op") match {
      case "append" => t.append(batch(n))
      case "posdel" => t.delete(str(n, "cond"), WriteMode.MergeOnRead)
      case "dvdel" => t.delete(str(n, "cond"), WriteMode.DeletionVector)
      case "update" =>
        val set = n.get("set").fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
        t.update(str(n, "cond"), set, WriteMode.MergeOnRead)
      case "eqdel" =>
        import spark.implicits._
        t.deleteByKeys(n.get("event_ids").elements().asScala.map(_.asLong).toSeq.toDF("event_id"))
      case "merge" =>
        import spark.implicits._
        val rows = n.get("rows").elements().asScala.map(r => (long(r, "event_id"), long(r, "ts"),
          long(r, "user_id"), str(r, "event_type"), str(r, "value"), str(r, "props"))).toSeq
        val src = rows.toDF("event_id", "ts_us", "user_id", "event_type", "value_s", "props")
          .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"), col("user_id"),
            col("event_type"), col("value_s").cast("double").as("value"), col("props"))
        t.merge(src, "t.event_id = s.event_id",
          matchedSet = Map("value" -> "s.value", "event_type" -> "s.event_type",
            "props" -> "s.props"),
          insertValues = Some(Cols.map(c => c -> s"s.$c").toMap))
      case "compact" => t.compact()
      case "expire" => t.expireSnapshots(System.currentTimeMillis(), n.get("retain_last").asInt())
      case other => throw new IllegalArgumentException(s"unknown ingest op $other")
    }

    // set-up: the empty target table is created, and a throwaway table
    // takes the warm-up ops (one client, as in the loop: concurrent
    // warm-ups on separate tables contend and warm no faster)
    ctx.setup(_ => create("events")) {
      val w = create("warm")
      warm.foreach(apply(w, _))
      Fs.rmTree(w.location)
    }

    var t: GraftTable = null
    def pass(name: String)(label: String): Unit = {
      t = create(name)
      ops.zipWithIndex.foreach { case (n, i) =>
        val kind = str(n, "op")
        val before = if (ctx.tracer.enabled) dirBytes(t.location) else Map.empty[String, Long]
        val pre = probe(ctx, t, None, None)
        ctx.op(i, kind, label, extra = if (ctx.tracer.enabled) {
          val after = dirBytes(t.location)
          pre ++ Map("data_bytes" -> (after("data") - before("data")),
            "delete_bytes" -> (after("deletes") - before("deletes")),
            "meta_bytes" -> (after("meta") - before("meta")),
            "files_added" -> (after("files") - before("files")))
        } else Map.empty) {
          ctx.tracer.span(s"commit.$kind")(apply(t, n))
          None
        }
      }
    }
    // a traced run repeats the loop on a fresh table; the checks read
    // the table the last pass left
    ctx.loop(pass("events"))
    val loc = t.location
    val all = t.scan()
    ctx.summary("final_hash") = RowHash.of(all.collect(), all.schema)
    val reopened = GraftTable.load(spark, loc).scan()
    ctx.summary("reopen_hash") = RowHash.of(reopened.collect(), reopened.schema)
    ctx.summary("table_dir") = loc
    ctx.summary("table_bytes") = Fs.bytesUnder(loc)
  }
}

/** Read-only after set-up: a bucketed lineitem table with a fixed
  * merge-on-read backlog and a tag on the pre-delete snapshot. */
object Serve {
  import TableOps._

  val Ddl = "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
    "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
    "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP"
  val Buckets = 16
  val WarmLookups = 8

  /** TPC-H Q1-style aggregate whose sums are exact in every engine */
  def q1(df: DataFrame): DataFrame =
    df.groupBy("l_returnflag", "l_linestatus").agg(
      count(lit(1)).as("n"), sum("l_quantity").as("qty"),
      sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"),
      min("l_shipdate").as("first_ship"), max("l_shipdate").as("last_ship"))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val build = ctx.plan("serve/build.jsonl")
    val reads = ctx.plan("serve/reads.jsonl")
    val wh = s"${ctx.workDir}/wh"

    def buildTable(name: String): GraftTable = {
      val cat = graft.table.Catalog(spark)
      Fs.rmTree(s"$wh/db/$name")
      val t = cat.createTable("db", name, Ddl,
        partitionBy = Seq(s"bucket($Buckets, l_orderkey)"))
      build.foreach { n =>
        str(n, "op") match {
          case "append" => t.append(spark.read.parquet(s"${ctx.dataDir}/serve/${str(n, "file")}"))
          case "tag" => t.createTag(str(n, "name"))
          case "posdel" => t.delete(str(n, "cond"), WriteMode.MergeOnRead)
          case "dvdel" => t.delete(str(n, "cond"), WriteMode.DeletionVector)
          case "eqdel" =>
            import spark.implicits._
            t.deleteByKeys(n.get("l_orderkeys").elements().asScala.map(_.asLong).toSeq
              .toDF("l_orderkey"))
          case other => throw new IllegalArgumentException(s"unknown build op $other")
        }
      }
      t
    }

    var t: GraftTable = null
    ctx.setup(_ => t = buildTable("lineitem")) {
      // warm-up: untimed lookups through every read path, concurrently
      val keys = reads.filter(n => str(n, "op") == "point").map(long(_, "key"))
      ctx.parallel(keys.take(WarmLookups).flatMap(k => Seq(
        () => t.scan(filter = Some(s"l_orderkey = $k")).collect(): Unit,
        () => t.scan(filter = Some(s"l_orderkey = $k")).collect(): Unit,
        () => spark.sql(s"SELECT * FROM graft.db.lineitem WHERE l_orderkey = $k").collect(): Unit,
        () => t.scan(filter = Some(s"l_orderkey = $k"), ref = Some("pre")).collect(): Unit)))
    }

    def read(i: Int, n: JsonNode, label: String): Unit = {
      val kind = str(n, "op")
      def keyF = s"l_orderkey = ${long(n, "key")}"
      kind match {
        case "point" =>
          val pre = probe(ctx, t, Some(keyF), None)
          // the precision probe is a second scan, so only the lookups
          // paired with a tag lookup take it
          val pair = n.has("pair")
          ctx.op(i, kind, label,
              pre ++ (if (pair) filesHit(ctx, t, keyF) else Map.empty) + ("pair" -> pair))(
            collect(ctx, t.scan(filter = Some(keyF))))
        case "point_tag" =>
          val pre = probe(ctx, t, Some(keyF), Some("pre"))
          ctx.op(i, kind, label, pre)(collect(ctx, t.scan(filter = Some(keyF), ref = Some("pre"))))
        case "point_sql" =>
          val pre = probe(ctx, t, Some(keyF), None)
          ctx.op(i, kind, label, pre)(collect(ctx,
            ctx.tracer.span("sql.resolve")(
              spark.sql(s"SELECT * FROM graft.db.lineitem WHERE $keyF"))))
        case "range_key" | "range_date" =>
          val (c, lo, hi) =
            if (kind == "range_key") ("l_orderkey", long(n, "lo").toString, long(n, "hi").toString)
            else ("l_shipdate", str(n, "lo"), str(n, "hi"))
          val f = s"$c >= $lo AND $c < $hi"
          val pre = probe(ctx, t, Some(f), None)
          ctx.op(i, kind, label, pre)(collect(ctx, t.scan(filter = Some(f))))
        case "full" =>
          val pre = probe(ctx, t, None, None)
          ctx.op(i, kind, label, pre)(collect(ctx, q1(t.scan())))
        case "full_tag" =>
          val pre = probe(ctx, t, None, Some("pre"))
          ctx.op(i, kind, label, pre)(collect(ctx, q1(t.scan(ref = Some("pre")))))
        case "files" =>
          // file paths carry random ids; the checked value is the data
          // row total the manifest reports
          ctx.op(i, kind, label)(collect(ctx, t.metaTable("files")
            .filter(col("file_type") === "data").agg(sum("row_count").as("rows"))))
        case other => throw new IllegalArgumentException(s"unknown read op $other")
      }
    }
    ctx.loop(label => reads.zipWithIndex.foreach { case (n, i) => read(i, n, label) })
    if (ctx.traced) Analytics.layerPass(ctx, reads.size)
    ctx.summary("table_bytes") = Fs.bytesUnder(t.location)
    ctx.summary("manifest_bytes") = Fs.bytesUnder(t.location, "metadata")
  }
}

/** Execution-heavy: passes over the TPC-H operator keys, which read plain
  * parquet and never touch graft.table. */
object Analytics {
  private val tpch = "q\\d\\d_.*"
  val Modules: Seq[(String, Set[String])] = Seq(
    "Analytics" -> graft.ops.Analytics.queries.keySet.filter(_.matches(tpch)),
    "AnalyticsDeep" -> graft.ops.AnalyticsDeep.queries.keySet.filter(_.matches(tpch)))
  private val module = Modules.flatMap { case (m, ks) => ks.map(_ -> m) }.toMap

  def run(ctx: Ctx): Unit = {
    val keys = plan(ctx, ctx.passes)
    ctx.setup(_ => ())(warmUp(ctx, keys))
    ctx.loop(label => pass(ctx, keys, label, 0))
  }

  /** The operator layer in the serve workload's traced run: one pass over
    * the keys after the traced loop, outside every serve figure. Its ops
    * carry pass "ops" and ids after the loop's; they record no spans, only
    * the listener's per-op job and stage counters. */
  def layerPass(ctx: Ctx, firstId: Int): Unit = {
    val keys = plan(ctx, 1)
    warmUp(ctx, keys)
    pass(ctx, keys, "ops", firstId)
    BusDrain(ctx.spark.sparkContext)
  }

  /** `passes` seed-shuffled passes over the keys; writes them as the op
    * log, with the oracle SQL of each key the checks compare against */
  private def plan(ctx: Ctx, passes: Int): Seq[String] = {
    val rnd = new scala.util.Random(ctx.seed)
    val keys = Seq.fill(passes)(rnd.shuffle(Modules.flatMap(_._2).sorted)).flatten
    val w = new java.io.PrintWriter(s"${ctx.outDir}/ops.jsonl")
    try keys.foreach(k => w.println(Json.mapper.writeValueAsString(Map("op" -> "query", "key" -> k))))
    finally w.close()
    val oracle = SparkEntry.oracleSql
    val ow = new java.io.PrintWriter(s"${ctx.outDir}/oracle_sql.json")
    try ow.println(Json.mapper.writeValueAsString(keys.flatMap(k => oracle.get(k).map(k -> _)).toMap))
    finally ow.close()
    keys
  }

  private def query(ctx: Ctx, k: String, dir: String) = SparkEntry.queries(k)(ctx.spark, dir)

  /** every key once over a small dataset of the same schema */
  private def warmUp(ctx: Ctx, keys: Seq[String]): Unit =
    ctx.parallel(keys.distinct.map(k => () =>
      query(ctx, k, s"${ctx.dataDir}/warm").collect(): Unit))

  private def pass(ctx: Ctx, keys: Seq[String], label: String, firstId: Int): Unit =
    keys.zipWithIndex.foreach { case (k, i) =>
      ctx.op(firstId + i, "query", label, Map("key" -> k, "module" -> module(k))) {
        val df = ctx.tracer.span("query.build")(query(ctx, k, s"${ctx.dataDir}/analytics"))
        val rows = ctx.tracer.span("exec")(df.collect())
        Some((rows, df.schema))
      }
    }
}
