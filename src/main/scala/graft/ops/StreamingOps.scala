package graft.ops

import java.nio.file.{Files, Paths}
import java.util.UUID

import scala.annotation.unused
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout,
  OutputMode, Trigger}
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Structured Streaming surface (SURVEY.md §2.4): the batch events table is
  * staged as a file-stream source — its parquet files HARD-LINKED, never
  * copied ([[stageLinked]]) — and drained by an AvailableNow trigger,
  * so the STREAMING execution path (watermarks, stateful sessionization)
  * produces results the batch DuckDB oracle can check exactly. */
object StreamingOps {
  type Q = (SparkSession, String) => DataFrame

  /** State-store partition count for the streaming queries. Streaming
    * state partitioning is a SIZING decision, not a parallelism default:
    * every micro-batch commits one state delta per partition per stateful
    * operator, so partition count must track state volume — at the demo
    * rates (thousands of state rows) 32 partitions is pure per-batch
    * commit overhead, the same way a production job sets its streaming
    * stage's spark.sql.shuffle.partitions to match state, not cores.
    * The operator shapes are unchanged; a 100 TB deployment raises this
    * with its state size (state is re-partitionable only via a new
    * checkpoint, so production picks it deliberately up front). */
  val StatePartitions = 8

  /** run `body` (which starts and drains a streaming query) with shuffle
    * partitions sized for state; restore the session default after */
  private def withStatePartitions[T](spark: SparkSession)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private val EventCols = Seq("event_id", "ts", "user_id", "event_type", "value")

  /** The one streaming run every operator here (and
    * [[IncrementalAgg.streamIncrAggQuery]]) goes through: the configured
    * `writer` checkpoints at `ckpt` and drains its source to the end
    * under an AvailableNow trigger. */
  private[ops] def runToEnd(writer: DataStreamWriter[_], ckpt: String): Unit =
    writer.option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow())
      .start().awaitTermination()

  /** [[runToEnd]] into a foreachBatch sink: `sink` receives every
    * micro-batch */
  private[ops] def runBatches(stream: DataFrame, ckpt: String,
      mode: String = "append")(sink: DataFrame => Unit): Unit =
    runToEnd(stream.writeStream.outputMode(mode)
      .foreachBatch((batch: DataFrame, _: Long) => sink(batch)), ckpt)

  /** [[runToEnd]] into a fresh memory sink checkpointed at `tmp/ckpt`,
    * then return `readBack` of the sink PINNED (localCheckpoint — these
    * are all small window/key aggregates) and drop the sink's temp view.
    * Without the drain every streaming query pins its sink rows +
    * catalog entry for the JVM's lifetime: the round-11 aging diagnosis
    * measured q_stream_topk climbing 1.34 → 1.70 s across 7
    * streaming-family rounds in one JVM (heap 0.7 → 2.7 GB, 100
    * accumulated sink tables) — exactly the suite-context inflation the
    * round-10 bench flagged. The checkpointed result is GC-managed
    * (ContextCleaner frees its blocks when the DataFrame is dropped),
    * unlike a catalog-pinned sink, so a 224-query × 7-round bench JVM
    * stays flat.
    *
    * Deliberately does NOT call `spark.streams.resetTerminated()`: that
    * clears the session-GLOBAL awaitAnyTermination state, which a library
    * must not mutate under a shared session's other users. Terminated
    * queries are already removed from the active registry by Spark
    * itself; what the manager retains after termination is O(1) (the
    * last termination's state for awaitAnyTermination), so leaving it
    * alone keeps the JVM flat — the round-11 leak was the catalog-pinned
    * sink views, which the dropTempView below releases per query. */
  private def drainMemory(out: Dataset[_], tmp: String, mode: String = "append")(
      readBack: DataFrame => DataFrame): DataFrame = {
    val name = s"sink_${UUID.randomUUID.toString.replace("-", "")}"
    try {
      runToEnd(out.writeStream.format("memory").queryName(name).outputMode(mode),
        s"$tmp/ckpt")
      readBack(out.sparkSession.table(name)).localCheckpoint()
    } finally out.sparkSession.catalog.dropTempView(name)
  }

  /** (n, sum_value) per `keys`: the row count and exact decimal value sum
    * every events aggregate here reports */
  private def totals(events: DataFrame, keys: Column*): DataFrame =
    events.groupBy(keys: _*).agg(count(lit(1)).as("n"),
      sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))

  private val HourUs = 3600000000L

  /** what a sentinel row carries in each event column it is not keyed on */
  private val SentinelFill =
    Map("event_id" -> lit(-1L), "user_id" -> lit(-1L), "value" -> lit(0.0))

  /** Stage `events` ([[stageLinked]]) and open its ts-normalized stream
    * over `cols`; returns (scratch dir, stream). With `sentinelAfterHours`,
    * sentinel rows land first ([[writeSentinels]]) at the global max
    * event time plus that many hours — one per row of `keys` (carrying
    * its columns), else a single row; every other column comes from
    * [[SentinelFill]]. Their watermark closes every real window, session
    * and join bound, while their own stays open and is never emitted. */
  private def eventStream(spark: SparkSession, dir: String,
      cols: Seq[String] = EventCols, sentinelAfterHours: Option[Long] = None,
      keys: Option[DataFrame] = None): (String, DataFrame) = {
    val (tmp, raw) = stageLinked(spark, dir)
    sentinelAfterHours.foreach { h =>
      val base = keys.getOrElse(spark.range(1).select())
      val ts = timestamp_micros(lit(maxTsMicros(spark, dir) + h * HourUs))
      writeSentinels(base.select(cols.map {
        case "ts" => ts.as("ts")
        case c if base.columns.contains(c) => col(c)
        case c => SentinelFill(c).as(c)
      }: _*), raw, tmp)
    }
    (tmp, Tables.normalizeEventTs(rawStream(spark, tmp, raw, cols)))
  }

  private def eventTypes(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events").select(col("event_type")).distinct()

  private def users(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events").select("user_id").distinct()

  /** Link-stage a source table: every data file of `<dir>/<table>.parquet`
    * is HARD-LINKED into `tmp/in` — one directory entry per file, no data
    * copy, no Spark write job (symlink, then copy, as fallbacks for
    * filesystems that refuse links). The projection / ts-normalization the
    * batch path applies in [[graft.Tables]] moves INSIDE the stream
    * ([[rawStream]] + [[Tables.normalizeEventTs]]), and sentinel rows —
    * when a query needs them — land as ONE tiny extra parquet file
    * ([[writeSentinels]]). Before round 9 every streaming query re-wrote
    * its full projected source here, a per-query full-data write job that
    * was the §2.4 family's whole io cross-section; staging cost is now
    * independent of source size. Returns (tmp dir, raw file schema). */
  private def stageLinked(spark: SparkSession, dir: String,
      table: String = "events"): (String, org.apache.spark.sql.types.StructType) = {
    val tmp = graft.Scratch.dir("stream").toString
    val in = java.nio.file.Paths.get(tmp, "in")
    Files.createDirectories(in)
    linkInto(in, java.nio.file.Paths.get(dir, s"$table.parquet"))
    (tmp, spark.read.parquet(s"$dir/$table.parquet").schema)
  }

  /** link every data file of `source` (file or directory) into `in`;
    * `tag` keeps names distinct when the same data is linked twice
    * (streamDedup's re-delivery) */
  private def linkInto(in: java.nio.file.Path, source: java.nio.file.Path,
      tag: String = "a"): Unit = {
    import scala.jdk.CollectionConverters._
    val files: Seq[java.nio.file.Path] =
      if (Files.isDirectory(source)) {
        val s = Files.list(source)
        try s.iterator().asScala.toList
          .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.toString)
        finally s.close()
      } else Seq(source)
    files.zipWithIndex.foreach { case (f, i) =>
      val dst = in.resolve(f"linked-$tag-$i%05d.parquet")
      try Files.createLink(dst, f)
      catch { case _: Exception =>
        try Files.createSymbolicLink(dst, f.toAbsolutePath)
        catch { case _: Exception => Files.copy(f, dst); () }
      }
    }
  }

  /** raw file-source stream over the linked dir, reading ONLY `cols` —
    * the parquet scan prunes to the requested subset, so the projection
    * the old staging write materialized now happens at scan time */
  private def rawStream(spark: SparkSession, tmp: String,
      raw: org.apache.spark.sql.types.StructType, cols: Seq[String]): DataFrame =
    spark.readStream
      .schema(org.apache.spark.sql.types.StructType(cols.map(c => raw(c))))
      .parquet(s"$tmp/in")

  /** sentinel rows land as ONE tiny parquet file next to the hard-linked
    * real files, with `ts` converted back to the RAW physical shape
    * (nanos-as-long or TIMESTAMP_NTZ) so the mixed directory reads under
    * a single requested schema; written after the links so any per-file
    * ordering keeps real data first */
  private def writeSentinels(sent: DataFrame,
      raw: org.apache.spark.sql.types.StructType, tmp: String): Unit = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val out = raw("ts").dataType match {
      case LongType => sent.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case TimestampNTZType => sent.withColumn("ts", col("ts").cast(TimestampNTZType))
      case _ => sent
    }
    out.coalesce(1).write.mode("append").parquet(s"$tmp/in")
  }

  /** global max event time in unix micros for the sentinel rows — read
    * from the parquet FOOTER stats on the driver (one footer per file, no
    * Spark job; the countFast pattern applied to event time). Falls back
    * to a distributed scan only when a footer carries no ts stats. */
  private def maxTsMicros(spark: SparkSession, dir: String): Long =
    graft.table.FooterStats.maxTimestampMicros(s"$dir/events.parquet", "ts")
      .getOrElse(Tables(spark, dir, "events")
        .agg(max(unix_micros(col("ts")))).collect()(0).getLong(0))

  // --- tumbling window + watermark ------------------------------------------
  def streamWindow(spark: SparkSession, dir: String): DataFrame = {
    val (tmp, stream) = eventStream(spark, dir)
    drainHourly(stream, tmp, "complete")
  }

  /** per-(hourly window, event_type) totals: the aggregate and readback
    * both window operators share */
  private def drainHourly(stream: DataFrame, tmp: String, mode: String): DataFrame =
    drainMemory(totals(stream.withWatermark("ts", "1 hour"),
      window(col("ts"), "1 hour"), col("event_type")), tmp, mode)(
      _.select(col("window.start").as("ws"), col("event_type"), col("n"),
        col("sum_value")).orderBy("ws", "event_type"))

  // --- tumbling window, APPEND mode (bounded state) -------------------------
  /** the production shape at scale: complete mode re-emits every window on
    * every trigger and holds ALL windows in state forever; append mode
    * emits each window once when the watermark passes it and evicts its
    * state. Sentinel events staged 3h past the global max advance the
    * watermark so every real window closes — 3h (not 2h) so the final
    * watermark strictly exceeds the last real window's end even when the
    * max event falls exactly on an hour boundary, where emission would
    * otherwise hinge on Spark's eviction comparison being inclusive
    * (their own window stays open and is never emitted, so the output
    * equals the batch truth). */
  def streamWindowAppend(spark: SparkSession, dir: String): DataFrame = {
    val (tmp, stream) = eventStream(spark, dir, sentinelAfterHours = Some(3),
      keys = Some(eventTypes(spark, dir)))
    drainHourly(stream, tmp, "append")
  }

  // --- windowed NDV sketch in a stream --------------------------------------
  /** Distinct users per hourly window via the mergeable HLL aggregate
    * (functions/HllAgg.scala) — the streaming face of `graft_hll_ndv`.
    * Exact streaming COUNT(DISTINCT) would hold every key per open window
    * in the state store; the sketch holds 512 bytes per window and merges
    * across micro-batches by register max, so state is O(open windows),
    * not O(keys). Append mode + the usual max+3h sentinel (its own window
    * stays open and is never emitted), so the output equals the batch
    * truth and the DuckDB oracle replays the register algebra per window
    * bit-exactly. */
  def streamSketch(spark: SparkSession, dir: String): DataFrame = {
    val (tmp, stream) = eventStream(spark, dir, Seq("ts", "user_id"), Some(3))
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"),
        graft.functions.HllNdvAgg.hllNdv(col("user_id")).as("sk"))
    drainMemory(agg, tmp)(_
      .select(col("window.start").as("ws"), col("n"),
        col("sk.n_registers").as("n_registers"), col("sk.t").as("t"),
        col("sk.ndv_est").as("ndv_est"))
      .orderBy("ws"))
  }

  // --- windowed top-k ranking in a stream -----------------------------------
  /** Continuous "trending items": the top-[[TopK]] events by value per
    * hourly window, via the mergeable bounded aggregate
    * (functions/TopKAgg.scala — the streaming face of rank). An exact
    * streaming rank would hold every row of every open window in the
    * state store; the bounded buffer holds k entries per window and
    * merges across micro-batches by ordered insert, so state is
    * O(k × open windows), not O(rows). Append mode + the usual max+3h
    * sentinel (its own window stays open and is never emitted); ties
    * break by event_id, so the DuckDB oracle's row_number() replays the
    * ranking exactly. */
  val TopK = 3

  def streamTopk(spark: SparkSession, dir: String): DataFrame = {
    val (tmp, stream) = eventStream(spark, dir, Seq("ts", "event_id", "value"), Some(3))
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.TopKAgg.topK(col("value"), col("event_id"), TopK).as("top"))
    drainMemory(agg, tmp)(_
      .select(col("window.start").as("ws"), explode(col("top")).as("t"))
      .select(col("ws"), col("t.rank").as("rank"),
        col("t.id").as("event_id"), col("t.value").as("value"))
      .orderBy("ws", "rank"))
  }

  // --- windowed histogram quantiles in a stream -----------------------------
  /** Histogram bucket width for the streaming quantile profile. Sizing
    * rule at scale: B = value_range / width buckets of state per open
    * window — width trades quantile resolution against state, the same
    * dial a production latency monitor turns. Interpolated into the
    * oracle so the gate re-derives the histogram bit-exactly. */
  val QuantileBucketWidth = 8.0

  /** Continuous value percentiles (the p50/p90/p99 latency-monitor
    * shape): each event folds into a FIXED-WIDTH integer histogram —
    * the streaming groupBy key is (window, floor(value / width)), so the
    * state store holds one count per live bucket, at most
    * range/width entries per open window regardless of event rate.
    * An exact streaming percentile would buffer every row of every open
    * window; the histogram is the bounded-state contract of
    * [[streamSketch]]/[[streamTopk]] applied to order statistics, with
    * resolution = bucket width instead of a probabilistic bound. The
    * emitted estimate is the LOWER BOUND of the smallest bucket whose
    * cumulative count reaches q·n — all-integer cross-multiplication
    * (cum·k ≥ n·m for q = m/k), no float quantile interpolation, so the
    * DuckDB oracle replays the pick bit-exactly. Append mode + the usual
    * max+3h sentinel (its own window stays open and is never emitted). */
  def streamQuantile(spark: SparkSession, dir: String): DataFrame = {
    // batch tail over the emitted histogram (windows × live buckets rows,
    // tiny by construction): cumulative pick of each quantile's bucket
    val byWs = org.apache.spark.sql.expressions.Window.partitionBy("ws")
    val cumW = byWs.orderBy("bucket")
    drainHistogram(spark, dir)(_
      .withColumn("cum", sum(col("bn")).over(cumW))
      .withColumn("n", sum(col("bn")).over(byWs))
      .groupBy(col("ws"), col("n"))
      .agg(
        min(when(col("cum") * 2 >= col("n"), col("bucket"))).as("b50"),
        min(when(col("cum") * 10 >= col("n") * 9, col("bucket"))).as("b90"),
        min(when(col("cum") * 100 >= col("n") * 99, col("bucket"))).as("b99"))
      .select(col("ws"), col("n"),
        (col("b50") * QuantileBucketWidth).as("p50_lo"),
        (col("b90") * QuantileBucketWidth).as("p90_lo"),
        (col("b99") * QuantileBucketWidth).as("p99_lo"))
      .orderBy("ws"))
  }

  // --- windowed distribution drift in a stream ------------------------------
  /** Distribution-drift monitor (the "did the data change under me"
    * question every continuously-trained pipeline asks): the SAME
    * bounded per-(window, bucket) histogram state as [[streamQuantile]]
    * — ≤ range/width counts per open window, never rows — then each
    * emitted window's value distribution is compared to its successor's
    * by L1 distance in ALL-INTEGER cross-multiplication:
    * l1_num = Σ_b |bn_a·n_b − bn_b·n_a| over the pair's bucket union,
    * drifted ⇔ 2·l1_num > n_a·n_b (total-variation > ¼) — no float
    * normalization, so the DuckDB oracle replays the verdict exactly.
    * The pair comparison runs over (windows × live buckets) rows — the
    * emitted histogram, not the stream. */
  def streamDrift(spark: SparkSession, dir: String): DataFrame =
    drainHistogram(spark, dir) { hist =>
      val n = hist.groupBy(col("ws")).agg(sum(col("bn")).as("n"))
      val pairs = n.as("a").join(n.as("b"),
          col("b.ws") === col("a.ws") + expr("INTERVAL 1 HOUR"))
        .select(col("a.ws").as("ws"), col("b.ws").as("ws_next"),
          col("a.n").as("n_a"), col("b.n").as("n_b"))
      // bucket union of each adjacent pair with zero-fill, via union + sum
      // (an outer join on (pair, bucket) would zero-fill the same way with
      // a second shuffle)
      val contrib = hist
        .select(col("ws"), col("bucket"), col("bn").as("ba"), lit(0L).as("bb"))
        .unionByName(hist.select(
          (col("ws") - expr("INTERVAL 1 HOUR")).as("ws"), col("bucket"),
          lit(0L).as("ba"), col("bn").as("bb")))
        .groupBy(col("ws"), col("bucket"))
        .agg(sum(col("ba")).as("bn_a"), sum(col("bb")).as("bn_b"))
      contrib.join(pairs, "ws")
        .groupBy(col("ws"), col("ws_next"), col("n_a"), col("n_b"))
        .agg(sum(abs(col("bn_a") * col("n_b") - col("bn_b") * col("n_a")))
          .as("l1_num"))
        .withColumn("drifted", col("l1_num") * lit(2L) > col("n_a") * col("n_b"))
        .orderBy("ws")
    }

  /** The bounded histogram stream [[streamQuantile]] and [[streamDrift]]
    * share: one count per (hourly window, value bucket), append mode +
    * the max+3h sentinel; `readBack` receives the emitted
    * (ws, bucket, bn) rows. */
  private def drainHistogram(spark: SparkSession, dir: String)(
      readBack: DataFrame => DataFrame): DataFrame = {
    val (tmp, stream) = eventStream(spark, dir, Seq("ts", "value"), Some(3))
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"),
        floor(col("value") / QuantileBucketWidth).cast("long").as("bucket"))
      .agg(count(lit(1)).as("bn"))
    drainMemory(agg, tmp)(sink => readBack(
      sink.select(col("window.start").as("ws"), col("bucket"), col("bn"))))
  }

  // --- stateful sessionization via flatMapGroupsWithState -------------------
  case class SEv(user_id: Long, ts_us: Long, event_id: Long)
  case class SOpen(start: Long, last: Long, n: Long, closed: Long)
  case class SOut(user_id: Long, session_id: Long, n_events: Long,
      start_us: Long, end_us: Long)

  private val GapUs = 1800000000L // 30 min

  /** Per-user session state machine. Sentinel events (event_id = -1, staged
    * 2h after the global max) advance past the last real session so it
    * closes and emits — the streaming analog of "end of input". */
  def sessionFn(uid: Long, it: Iterator[SEv], state: GroupState[SOpen]): Iterator[SOut] = {
    val evs = it.toArray.sortBy(e => (e.ts_us, e.event_id))
    var open: Option[(Long, Long, Long)] =
      state.getOption.filter(_.n > 0).map(s => (s.start, s.last, s.n))
    var closed = state.getOption.map(_.closed).getOrElse(0L)
    val out = ArrayBuffer[SOut]()
    evs.foreach { e =>
      open match {
        case Some((s, l, n)) if e.ts_us - l > GapUs =>
          closed += 1
          out += SOut(uid, closed, n, s, l)
          open = if (e.event_id == -1L) None else Some((e.ts_us, e.ts_us, 1L))
        case Some((s, _, n)) =>
          open = Some((s, e.ts_us, if (e.event_id == -1L) n else n + 1))
        case None =>
          open = if (e.event_id == -1L) None else Some((e.ts_us, e.ts_us, 1L))
      }
    }
    state.update(open.map(o => SOpen(o._1, o._2, o._3, closed))
      .getOrElse(SOpen(0, 0, 0, closed)))
    out.iterator
  }

  def streamSessions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (tmp, stream) = eventStream(spark, dir, Seq("user_id", "ts", "event_id"),
      Some(2), Some(users(spark, dir)))
    val sessions = stream
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .as[SEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(sessionFn)
    // Session bounds stay epoch-micro BIGINTs (the portable representation for
    // the physically-TIMESTAMP(NANOS) events table; see Analytics.sessionize).
    drainMemory(sessions, tmp)(_
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("start_us").as("session_start_us"),
        col("end_us").as("session_end_us"))
      .orderBy("user_id", "session_id"))
  }

  // --- stateful last-touch attribution --------------------------------------
  case class AEv(user_id: Long, ts_us: Long, event_id: Long, event_type: String,
      value: Double, campaign: Long)
  case class AClick(us: Long, campaign: Long, has: Boolean)
  case class AOut(campaign: String, value: Double)

  private val AttrLookbackUs = 7L * 24 * 3600 * 1000000

  /** Per-user attribution state machine: state is ONE (ts, campaign)
    * pair — the most recent click — regardless of how many events the
    * user ever produced; each purchase emits its credited campaign as it
    * arrives. The streaming twin of [[Behavioral.attribution]]'s batch
    * window (same strictly-before, (ts, event_id)-ordered, 7-day-lookback
    * semantics), so the two share one oracle. Events sort by (ts,
    * event_id) within the micro-batch; across batches the state carries
    * the last click, so the replay is exact as long as the source feeds
    * batches in event order (the staged single-file source does). */
  def attributionFn(@unused uid: Long, it: Iterator[AEv],
      state: GroupState[AClick]): Iterator[AOut] = {
    val evs = it.toArray.sortBy(e => (e.ts_us, e.event_id))
    var click: Option[(Long, Long)] =
      state.getOption.filter(_.has).map(c => (c.us, c.campaign))
    val out = ArrayBuffer[AOut]()
    evs.foreach { e =>
      if (e.event_type == "click") click = Some((e.ts_us, e.campaign))
      else if (e.event_type == "purchase") {
        val camp = click match {
          case Some((us, c)) if e.ts_us - us <= AttrLookbackUs => s"c$c"
          case _ => "organic"
        }
        out += AOut(camp, e.value)
      }
    }
    state.update(click.map(c => AClick(c._1, c._2, has = true))
      .getOrElse(AClick(0, 0, has = false)))
    out.iterator
  }

  def streamAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (tmp, stream) = eventStream(spark, dir,
      Seq("user_id", "ts", "event_id", "event_type", "value", "props"))
    val credited = stream
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"), col("value"),
        coalesce(get_json_object(col("props"), "$.k").cast("long") % 10,
          lit(-1L)).as("campaign"))
      .as[AEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(attributionFn)
    drainMemory(credited, tmp)(_
      .groupBy(col("campaign"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("revenue"))
      .orderBy("campaign"))
  }

  // --- native session_window sessionization ---------------------------------
  /** Spark's BUILT-IN `session_window` aggregation — the declarative
    * (codegen'd merging-session state store) counterpart to the custom
    * flatMapGroupsWithState path (q_stream_sessions): state is one
    * merging window per open session, append mode emits each session
    * exactly once when the watermark passes its end, sentinels at
    * max+3h close every real session. Session windows are HALF-OPEN
    * [start, last+gap): an event exactly at last+gap starts a new
    * session — the oracle encodes `diff >= gap` accordingly. */
  def streamSessionWindow(spark: SparkSession, dir: String): DataFrame = {
    val (tmp, stream) = eventStream(spark, dir, Seq("user_id", "ts", "event_id"),
      Some(3), Some(users(spark, dir)))
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("session_start_us"),
        max(unix_micros(col("ts"))).as("session_end_us"))
    val byStart = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("session_start_us"))
    drainMemory(agg, tmp)(_
      .select(col("user_id"), col("n_events"),
        col("session_start_us"), col("session_end_us"))
      .withColumn("session_id", row_number().over(byStart).cast("long"))
      .select("user_id", "session_id", "n_events",
        "session_start_us", "session_end_us")
      .orderBy("user_id", "session_id"))
  }

  // --- end-to-end pipeline: graft table as BOTH source and sink --------------
  /** The full streaming loop through the format: table A's commits tail
    * out as an append stream (`GraftTable.readStream`), a windowed
    * aggregation runs over the stream, and every micro-batch publishes
    * the refreshed aggregate into table B as ONE atomic overwrite
    * commit (the streaming-materialized-view pattern; the incremental
    * variant is q_stream_incr_agg). maxFilesPerTrigger forces several
    * micro-batches, so B's snapshot history records each refresh and the
    * final state must equal the batch truth regardless of how the stream
    * was chopped. */
  def streamPipeline(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("pipe").toString
    val src = Tables(spark, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val a = graft.table.GraftTable.create(spark, s"$tmp/a",
      "event_id bigint, ts timestamp, user_id bigint, event_type string, value double")
    a.append(src.filter(col("event_id") % 2 === 0))
    a.append(src.filter(col("event_id") % 2 =!= 0))
    val b = graft.table.GraftTable.create(spark, s"$tmp/b",
      "ws timestamp, event_type string, n bigint, sum_value double")
    val agg = totals(a.readStream(maxFilesPerTrigger = Some(3)),
        window(col("ts"), "1 hour"), col("event_type"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"),
        col("sum_value"))
    runBatches(agg, s"$tmp/ckpt", "complete")(b.overwrite(_))
    b.scan().orderBy("ws", "event_type")
  }

  // --- streaming MERGE upsert into the graft table ---------------------------
  /** CDC-style streaming apply: every micro-batch MERGEs into the table
    * (matched keys update, new keys insert), one atomic snapshot commit
    * per batch. Stream keys are disjoint across rows, so the final state
    * is independent of how the files split into batches — the property a
    * production apply stream needs, since micro-batch boundaries are not
    * deterministic under retries. maxFilesPerTrigger forces several
    * batches so the multi-commit path is actually exercised. */
  def streamUpsert(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    val (tmp, raw) = stageLinked(spark, dir, "orders")
    val o = Tables(spark, dir, "orders").select(cols.map(col): _*)
    val t = graft.table.GraftTable.create(spark, s"$tmp/tbl",
      "o_orderkey bigint, o_custkey bigint, o_orderstatus string, " +
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string")
    t.append(o.filter(col("o_orderkey") % 3 === 0))
    // the only data WRITTEN is genuinely new content — the modified
    // update rows. Insert rows stream straight off the hard-linked
    // source file (filter + prune inside the stream); unioning the two
    // single-file-per-trigger sources still forces the multi-batch,
    // multi-commit path the old multi-file staging exercised.
    o.filter(col("o_orderkey") % 6 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .repartition(2).write.parquet(s"$tmp/upd")
    val inserts = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(cols.map(c => raw(c))))
      .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      .filter(col("o_orderkey") % 3 === 1)
    val updates = spark.readStream.schema(o.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$tmp/upd")
    runBatches(inserts.unionByName(updates), s"$tmp/ckpt")(
      t.merge(_, on = "t.o_orderkey = s.o_orderkey",
        matchedSet = Map("o_totalprice" -> "s.o_totalprice"),
        insertValues = Some(cols.map(c => c -> s"s.$c").toMap)))
    t.scan().groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("sum_total"))
      .orderBy("o_orderpriority")
  }

  // --- streaming ingest INTO the graft table format -------------------------
  /** micro-batch writes through foreachBatch → GraftTable.append: each
    * batch is one atomic snapshot commit, so a crash between batches leaves
    * the table readable at the last committed snapshot. The sink ignores
    * the batch id, so a batch replayed after a crash between its commit
    * and the offset commit appends twice: at-least-once, not the
    * exactly-once Iceberg streaming-write contract (the commit_seq
    * watermark of [[runCdcPump]] is the only replay guard among these
    * sinks). */
  def streamIngest(spark: SparkSession, dir: String): DataFrame = {
    val (tmp, stream) = eventStream(spark, dir)
    val t = graft.table.GraftTable.create(spark, s"$tmp/tbl",
      "event_id bigint, ts timestamp, user_id bigint, event_type string, value double")
    runBatches(stream, s"$tmp/ckpt")(t.append(_))
    totals(t.scan(), col("event_type")).orderBy("event_type")
  }

  // --- streaming tail FROM the graft table format ---------------------------
  /** the reverse of [[streamIngest]]: the graft table is the SOURCE — two
    * snapshot commits land, `GraftTable.readStream()` tails their files as
    * an append stream, and the drained rows aggregate to the batch truth */
  def streamTail(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("tail").toString
    val src = Tables(spark, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val t = graft.table.GraftTable.create(spark, s"$tmp/tbl",
      "event_id bigint, ts timestamp, user_id bigint, event_type string, value double")
    t.append(src.filter(col("event_id") % 2 === 0))
    t.append(src.filter(col("event_id") % 2 =!= 0))
    drainMemory(t.readStream(), tmp)(totals(_, col("event_type")).orderBy("event_type"))
  }

  // --- streaming CDC FROM the graft table format ----------------------------
  /** The MoR-aware sibling of [[streamTail]]: stream the table's CHANGES —
    * insert / delete / update_before / update_after rows — not just its
    * appends. The source is the table's METADATA LOG as a file stream:
    * one commit publishes exactly one immutable `vN.json` (the CAS
    * invariant), so the file source's checkpointed offsets deliver each
    * version at-least-once across restarts; the sink commit is made
    * idempotent against replays (a crash between the sink append and
    * the offset commit redelivers the window) by a metadata-only
    * commit_seq watermark in [[runCdcPump]] — together, exactly-once
    * in the sink's rows.
    * Each micro-batch (one version per trigger) resolves its window's
    * snapshot ids from the PUBLISHED metadata — both endpoints are
    * immutable files, so a replayed batch recomputes the identical
    * delta — and replays [[graft.table.GraftTable.changes]]'s
    * lineage-based classification for that window into the sink table,
    * one atomic commit per micro-batch. This is the format-streaming
    * read the reference proves through its Flink suite beyond pure
    * appends: MoR deletes RETRACT (delete rows), MoR updates emit
    * before/after pairs, and the batch `changes()` oracle shape gates
    * the result (q_cdc_changes is the one-window batch twin).
    * StreamingRestartSpec drives the stop/commit-more/resume path. */
  def streamCdc(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("cdc").toString
    val loc = s"$tmp/tbl"
    val o = Tables(spark, dir, "orders").select(
      col("o_orderkey").as("id"),
      col("o_orderstatus").as("status"),
      col("o_totalprice").as("total"))
    val t = graft.table.GraftTable.create(spark, loc,
      "id bigint, status string, total double")
    // a history with every change class: two appends, a MoR delete, a
    // MoR update — four versions beyond create, four micro-batches
    t.append(o.filter(col("id") % 3 === 0))
    t.append(o.filter(col("id") % 3 === 1))
    t.delete("id % 10 = 4", graft.table.WriteMode.MergeOnRead)
    t.update("id % 10 = 7", Map("total" -> "total + 500.0"),
      graft.table.WriteMode.MergeOnRead)
    val out = graft.table.GraftTable.create(spark, s"$tmp/out",
      "id bigint, status string, total double, change_type string, commit_seq bigint")
    runCdcPump(spark, loc, out, s"$tmp/ckpt")
    out.scan().groupBy(col("change_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("id")).as("sum_id"),
        sum(col("total").cast(DecimalType(18, 2))).cast("double").as("sum_total"))
      .orderBy("change_type")
  }

  /** drain the metadata log of the table at `loc` into `out` as change
    * rows, one version per micro-batch (shared by the registry query and
    * the restart spec, which calls it repeatedly on one checkpoint) */
  def runCdcPump(spark: SparkSession, loc: String,
      out: graft.table.GraftTable, ckpt: String): Unit = {
    val verRe = "v(\\d+)\\.json$".r
    val mdStream = spark.readStream.format("text")
      .option("maxFilesPerTrigger", 1)
      .load(s"$loc/metadata/v*.json")
      .select(col("_metadata.file_path").as("p"))
    runBatches(mdStream, ckpt) { batch =>
      val vs = batch.select("p").distinct().collect().map(_.getString(0))
        .flatMap(p => verRe.findFirstMatchIn(p).map(_.group(1).toInt))
      if (vs.nonEmpty) {
        // window endpoints from PUBLISHED metadata versions only —
        // immutable files, so a replayed batch recomputes identically
        val fromSnap =
          if (vs.min <= 1) 0L
          else graft.table.Meta.readJsonVersion(loc, vs.min - 1).lastSnapshotId
        val toSnap = graft.table.Meta.readJsonVersion(loc, vs.max).lastSnapshotId
        // Idempotency watermark: foreachBatch is at-least-once on crash
        // (a failure between the sink commit and the offset commit
        // replays the micro-batch), so the sink commit must be a no-op
        // for an already-applied window. The sink's max committed
        // commit_seq is read METADATA-ONLY from its file stats (keyed
        // by field id, O(sink files) driver work, no job); a window
        // whose endpoint sequence is at or below it was fully applied —
        // append is atomic, partial application cannot exist.
        val sinkMeta = graft.table.GraftTable.load(spark, out.location).meta
        val seqFid = sinkMeta.currentSchema.byName("commit_seq").id.toString
        val applied = sinkMeta.head("main").toSeq
          .flatMap(s => graft.table.Meta.readEntries(out.location, s))
          .filter(_.fileType == "data")
          .flatMap(_.stats.get(seqFid).flatMap(_.max).flatMap(_.toLongOption))
          .foldLeft(0L)(math.max)
        // For a REAL window (endpoints differ), the endpoint snapshot's
        // sequence must resolve — fail LOUDLY if it cannot: a defaulted
        // sentinel would poison the sink's commit_seq watermark and
        // silently skip every subsequent window forever, the worst
        // possible failure mode in an exactly-once path. (The v1
        // creation batch has toSnap == fromSnap == 0 and never needs it.)
        def toSeq: Long = graft.table.Meta.readJsonVersion(loc, vs.max)
          .snapshots.find(_.snapshotId == toSnap).map(_.sequenceNumber)
          .getOrElse(throw new IllegalStateException(
            s"CDC pump: endpoint snapshot $toSnap not found in $loc " +
              s"metadata v${vs.max} — cannot stamp commit_seq"))
        if (toSnap != fromSnap && toSeq > applied) {
          val tbl = graft.table.GraftTable.load(spark, loc)
          val delta =
            if (fromSnap == 0L)
              // no from-snapshot exists yet: the whole window is inserts
              tbl.scan(snapshotId = Some(toSnap), withLineage = true)
                .select(col("id"), col("status"), col("total"),
                  lit("insert").as("change_type"),
                  col("_last_updated_sequence_number").as("commit_seq"))
            else
              // batch changes() leaves deletes unstamped (the lineage
              // squash cannot attribute the removing commit); here the
              // window endpoint IS the covering commit, so stamp them
              // with its sequence — Iceberg-changelog semantics, and it
              // keeps the idempotency watermark advancing on
              // delete-only windows
              tbl.changes(fromSnap, Some(toSnap))
                .select(col("id"), col("status"), col("total"),
                  col("_change_type").as("change_type"),
                  coalesce(col("_commit_seq"), lit(toSeq)).as("commit_seq"))
          // second idempotency guard, row-level: a replayed window whose
          // ENDPOINT commit carries no stamped row changes (e.g. a
          // compaction) passes the sequence gate above; dropping rows at
          // or below the applied watermark makes its re-append a no-op
          // too. A fresh window never loses rows to this — its changes
          // all carry seqs above the previously applied endpoint.
          out.append(delta.filter(col("commit_seq") > lit(applied)))
        }
      }
    }
  }

  // --- streaming ingest with IN-JOB post-commit maintenance -----------------
  /** every `CompactEveryCommits` append commits, the sink compacts itself */
  val CompactEveryCommits = 2

  /** The Flink-maintenance shape (the reference's Flink suite is the one
    * engine running Iceberg maintenance INSIDE the writing job —
    * flink_feature_tests.py:1100-1172, `flink-maintenance.rewrite.
    * schedule.commit-count`): a streaming ingest whose sink triggers
    * post-commit compaction every [[CompactEveryCommits]] append
    * commits, with no external scheduler. Source table A holds six
    * single-file append commits; the stream replays them one file per
    * micro-batch into sink table B (six appends), and every second
    * commit fires a bin-pack rewrite — so B's snapshot log interleaves
    * 'append' and 'replace' operations while the stream keeps writing,
    * and the final state must equal the batch truth regardless (readers
    * always see a consistent snapshot; compaction only rewrites files,
    * never rows). The emitted n_replace column pins the maintenance
    * cadence cross-engine; the spec asserts the interleaved operation
    * log itself. */
  def streamCompact(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Scratch.dir("scompact").toString
    val src = Tables(spark, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val ddl = "event_id bigint, ts timestamp, user_id bigint, " +
      "event_type string, value double"
    val a = graft.table.GraftTable.create(spark, s"$tmp/a", ddl)
    // coalesce(1): append writes one file per input partition, and the
    // n_replace oracle below assumes exactly six single-file commits →
    // six micro-batches at any scale factor (a multi-split events source
    // would otherwise change the maintenance cadence)
    (0 until 6).foreach(i =>
      a.append(src.filter(col("event_id") % 6 === i).coalesce(1)))
    graft.table.GraftTable.create(spark, s"$tmp/b", ddl)
    var commits = 0
    runBatches(a.readStream(maxFilesPerTrigger = Some(1)), s"$tmp/ckpt") { batch =>
      val sink = graft.table.GraftTable.load(spark, s"$tmp/b")
      sink.append(batch)
      commits += 1
      // post-commit maintenance, in-job: same thread as the sink
      // commit, so the rewrite serializes with the stream's appends
      if (commits % CompactEveryCommits == 0) sink.compact(targetMB = 128)
    }
    val fin = graft.table.GraftTable.load(spark, s"$tmp/b")
    val nReplace = fin.meta.snapshots.count(_.operation == "replace").toLong
    totals(fin.scan(), col("event_type"))
      .withColumn("n_replace", lit(nReplace))
      .orderBy("event_type")
  }

  // --- stream-stream interval join ------------------------------------------

  /** Click→purchase attribution as a stream-stream inner join: purchases
    * joining clicks of the same user within 30 minutes after the click.
    * BOTH sides carry watermarks and the join predicate bounds event time
    * in both directions, so Spark evicts join state as the watermarks
    * advance — state is O(rate × window), not O(stream), the only shape
    * that survives an unbounded stream. Sentinels staged 3h past the
    * global max push the final watermark beyond every real pair under
    * the AvailableNow trigger (append is the sole output mode stream-stream
    * joins support); sentinel rows use user_id = -1 and are dropped in
    * the batch readback. */
  def streamJoin(spark: SparkSession, dir: String): DataFrame =
    drainClickPurchase(spark, dir, "inner", count(lit(1)).as("n_pairs"))

  /** Stream-stream LEFT OUTER interval join — the harder semantics: a
    * click with no purchase inside its 30-minute window must STILL emit
    * (null-padded), which only happens once the watermark proves no
    * matching purchase can arrive. State eviction and null-padding ride
    * the same watermark; sentinels at max+3h push the final watermark past
    * every click's window end so each unmatched click resolves before
    * AvailableNow drains. Output counts both outcomes per user, which
    * pins the padding logic, not just the matches. */
  def streamJoinOuter(spark: SparkSession, dir: String): DataFrame =
    drainClickPurchase(spark, dir, "leftOuter",
      sum(when(col("p_id").isNotNull, 1L).otherwise(0L)).as("n_pairs"),
      sum(when(col("p_id").isNull, 1L).otherwise(0L)).as("n_unmatched"))

  /** The click→purchase interval join both join operators run (`how` =
    * inner | leftOuter), read back as `aggs` per clicking user with the
    * sentinel user (-1) dropped. */
  private def drainClickPurchase(spark: SparkSession, dir: String, how: String,
      aggs: Column*): DataFrame = {
    val (tmp, stream) = eventStream(spark, dir, sentinelAfterHours = Some(3),
      keys = Some(eventTypes(spark, dir).filter(col("event_type").isin("click", "purchase"))))
    val clicks = stream.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("ts").as("c_ts"),
        col("user_id").as("c_user"))
      .withWatermark("c_ts", "1 hour")
    val purchases = stream.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("ts").as("p_ts"),
        col("user_id").as("p_user"))
      .withWatermark("p_ts", "1 hour")
    val joined = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"),
      how)
    drainMemory(joined, tmp)(_.filter(col("c_user") >= 0)
      .groupBy(col("c_user").as("user_id"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("user_id"))
  }

  /** Stream-static enrichment (lookup join): each micro-batch joins the
    * stream against a graft DIMENSION table — the static side re-resolves
    * per batch, so a dimension update between batches is picked up without
    * restarting the query, and the small side broadcasts (no stream-side
    * shuffle for the join). The everyday "attach user segment to the
    * clickstream" shape. */
  def streamEnrich(spark: SparkSession, dir: String): DataFrame = {
    val (tmp, stream) = eventStream(spark, dir)
    val dim = graft.table.GraftTable.create(spark, s"$tmp/dim",
      "user_id bigint, segment string")
    dim.append(Tables(spark, dir, "events").select(col("user_id")).distinct()
      .withColumn("segment",
        concat(lit("seg"), pmod(col("user_id"), lit(4L)).cast("string"))))
    val enriched = stream.join(broadcast(dim.scan()), Seq("user_id"))
    drainMemory(enriched, tmp)(
      totals(_, col("segment"), col("event_type")).orderBy("segment", "event_type"))
  }

  // --- streaming exactly-once dedup -----------------------------------------

  /** At-least-once delivery repaired to exactly-once: the ENTIRE source
    * is re-delivered — a second hard-link of the same data files, the
    * classic duplicated-file-drop scenario, modeled at zero write cost —
    * and `dropDuplicatesWithinWatermark` keeps the first arrival per key
    * while the watermark EVICTS seen-key state — O(rate × delay) state,
    * the only dedup shape an unbounded stream can afford (plain
    * dropDuplicates would grow state forever). First-seen rows emit
    * immediately in append mode, so no sentinels are needed. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val (tmp, stream) = eventStream(spark, dir)
    // the file source lists its directory when the query runs, so the
    // re-delivered links count though they land after the stream opens
    linkInto(Paths.get(tmp, "in"), Paths.get(dir, "events.parquet"), tag = "redeliver")
    val deduped = stream
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    drainMemory(deduped, tmp)(totals(_, col("event_type")).orderBy("event_type"))
  }

  val queries: Map[String, Q] = Map[String, Q](
    "q_stream_dedup" -> streamDedup,
    "q_stream_join" -> streamJoin,
    "q_stream_join_outer" -> streamJoinOuter,
    "q_stream_enrich" -> streamEnrich,
    "q_stream_window" -> streamWindow,
    "q_stream_window_append" -> streamWindowAppend,
    "q_stream_sketch" -> streamSketch,
    "q_stream_topk" -> streamTopk,
    "q_stream_quantile" -> streamQuantile,
    "q_stream_drift" -> streamDrift,
    "q_stream_sessions" -> streamSessions,
    "q_stream_attribution" -> streamAttribution,
    "q_stream_session_window" -> streamSessionWindow,
    "q_stream_pipeline" -> streamPipeline,
    "q_stream_ingest" -> streamIngest,
    "q_stream_upsert" -> streamUpsert,
    "q_stream_tail" -> streamTail,
    "q_stream_cdc" -> streamCdc,
    "q_stream_compact" -> streamCompact)
    // every streaming query runs with state-sized shuffle partitions
    .map { case (k, f) =>
      k -> ((s: SparkSession, d: String) => withStatePartitions(s)(f(s, d)))
    }

  /** batch truth of every operator that streams the whole events table
    * into per-event_type totals (dedup, ingest, tail) */
  private val eventTypeTotalsSql =
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** batch truth of both hourly-window operators */
  private val hourlyTotalsSql =
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws, event_type,
        | COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val oracles: Map[String, String] = Map(
    // the streaming state machine must reproduce the BATCH attribution
    // window exactly — one oracle serves both
    "q_stream_attribution" -> Behavioral.oracles("q_attribution"),
    "q_stream_dedup" -> eventTypeTotalsSql,
    "q_stream_join" ->
      """WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
        |p AS (SELECT * FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, COUNT(*) AS n_pairs
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin,
    "q_stream_enrich" ->
      """SELECT 'seg' || CAST(user_id % 4 AS VARCHAR) AS segment, event_type,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY segment, event_type""".stripMargin,
    "q_stream_join_outer" ->
      """WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
        |p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT c.user_id, p.event_id AS p_id
        |  FROM c LEFT JOIN p ON c.user_id = p.user_id
        |    AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |)
        |SELECT user_id,
        |  CAST(SUM(CASE WHEN p_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pairs,
        |  CAST(SUM(CASE WHEN p_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unmatched
        |FROM j GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_stream_upsert" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM (
        |  SELECT o_orderpriority,
        |    CASE WHEN o_orderkey % 6 = 0 THEN o_totalprice + 1000.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 = 1) t
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_stream_ingest" -> eventTypeTotalsSql,
    "q_stream_tail" -> eventTypeTotalsSql,
    // in-job maintenance: 6 single-file batches → 6 append commits →
    // a rewrite every 2 commits = exactly 3 replace snapshots; the data
    // survives every interleaved compaction bit-for-bit
    "q_stream_compact" ->
      """SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        | CAST(3 AS BIGINT) AS n_replace
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the streamed change rows must equal the batch change classification
    // recomputed from the source: inserts for both appends, delete rows
    // for the MoR delete, before/after pairs for the MoR update
    "q_stream_cdc" ->
      """WITH src AS (
        |  SELECT o_orderkey AS id, o_totalprice AS total
        |  FROM orders WHERE o_orderkey % 3 < 2
        |), ch AS (
        |  SELECT 'insert' AS change_type, id, total FROM src
        |  UNION ALL
        |  SELECT 'delete', id, total FROM src WHERE id % 10 = 4
        |  UNION ALL
        |  SELECT 'update_before', id, total FROM src WHERE id % 10 = 7
        |  UNION ALL
        |  SELECT 'update_after', id, total + 500.0 FROM src WHERE id % 10 = 7
        |)
        |SELECT change_type, COUNT(*) AS n, CAST(SUM(id) AS BIGINT) AS sum_id,
        |  CAST(SUM(CAST(total AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
        |FROM ch GROUP BY change_type ORDER BY change_type""".stripMargin,
    // the bounded aggregate's (value DESC, id ASC) total order replayed
    // as a plain window rank — values pass through both engines untouched
    "q_stream_topk" ->
      s"""WITH r AS (
         |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws, event_id, value,
         |    row_number() OVER (PARTITION BY date_trunc('hour', ts)
         |                       ORDER BY value DESC, event_id) AS rank
         |  FROM events
         |)
         |SELECT ws, CAST(rank AS BIGINT) AS rank, event_id, value
         |FROM r WHERE rank <= ${StreamingOps.TopK} ORDER BY ws, rank""".stripMargin,
    // the histogram quantile pick replayed with the same all-integer
    // cross-multiplication; bucket lower bounds multiply out exactly
    "q_stream_quantile" ->
      s"""WITH h AS (
         |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws,
         |    CAST(floor(value / $QuantileBucketWidth) AS BIGINT) AS bucket,
         |    COUNT(*) AS bn
         |  FROM events GROUP BY 1, 2),
         |c AS (
         |  SELECT ws, bucket, bn,
         |    SUM(bn) OVER (PARTITION BY ws ORDER BY bucket) AS cum,
         |    SUM(bn) OVER (PARTITION BY ws) AS n
         |  FROM h)
         |SELECT ws, CAST(n AS BIGINT) AS n,
         |  CAST(MIN(CASE WHEN cum * 2 >= n THEN bucket END) * $QuantileBucketWidth AS DOUBLE) AS p50_lo,
         |  CAST(MIN(CASE WHEN cum * 10 >= n * 9 THEN bucket END) * $QuantileBucketWidth AS DOUBLE) AS p90_lo,
         |  CAST(MIN(CASE WHEN cum * 100 >= n * 99 THEN bucket END) * $QuantileBucketWidth AS DOUBLE) AS p99_lo
         |FROM c GROUP BY ws, n ORDER BY ws""".stripMargin,
    // the adjacent-window L1 drift verdict replayed on the same
    // histogram, all-integer cross-multiplication end to end
    "q_stream_drift" ->
      s"""WITH h AS (
         |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws,
         |    CAST(floor(value / $QuantileBucketWidth) AS BIGINT) AS bucket,
         |    COUNT(*) AS bn
         |  FROM events GROUP BY 1, 2),
         |t AS (
         |  SELECT ws, CAST(SUM(bn) AS BIGINT) AS n FROM h GROUP BY ws),
         |p AS (
         |  SELECT a.ws AS ws, b.ws AS ws_next, a.n AS n_a, b.n AS n_b
         |  FROM t a JOIN t b ON b.ws = a.ws + INTERVAL 1 HOUR),
         |c AS (
         |  SELECT ws, bucket,
         |    CAST(SUM(ba) AS BIGINT) AS bn_a, CAST(SUM(bb) AS BIGINT) AS bn_b
         |  FROM (
         |    SELECT ws, bucket, bn AS ba, 0 AS bb FROM h
         |    UNION ALL
         |    SELECT ws - INTERVAL 1 HOUR AS ws, bucket, 0 AS ba, bn AS bb FROM h)
         |  GROUP BY ws, bucket)
         |SELECT p.ws, p.ws_next, p.n_a, p.n_b,
         |  CAST(SUM(ABS(bn_a * p.n_b - bn_b * p.n_a)) AS BIGINT) AS l1_num,
         |  (CAST(SUM(ABS(bn_a * p.n_b - bn_b * p.n_a)) AS BIGINT) * 2
         |     > p.n_a * p.n_b) AS drifted
         |FROM c JOIN p ON c.ws = p.ws
         |GROUP BY p.ws, p.ws_next, p.n_a, p.n_b
         |ORDER BY p.ws""".stripMargin,
    "q_stream_window" -> hourlyTotalsSql,
    "q_stream_sketch" ->
      s"""WITH h AS (
         |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws,
         |    ${Sketches.sqlFold("'hll:' || CAST(user_id AS VARCHAR)")} AS u
         |  FROM events
         |), rr AS (
         |  SELECT ws, u // 8388608 AS idx,
         |    CASE WHEN u % 8388608 = 0 THEN 24
         |         ELSE 24 - length(bin(u % 8388608)) END AS rank
         |  FROM h
         |), regs AS (
         |  SELECT ws, idx, MAX(rank) AS r FROM rr GROUP BY ws, idx
         |), agg AS (
         |  SELECT ws, CAST(COUNT(*) AS BIGINT) AS n_registers,
         |    CAST(SUM(CAST(1 AS BIGINT) << CAST(24 - r AS BIGINT)) AS BIGINT)
         |      AS t_present
         |  FROM regs GROUP BY ws
         |), sk AS (
         |  SELECT ws, n_registers,
         |    t_present + (512 - n_registers) * 16777216 AS t
         |  FROM agg
         |), cnt AS (
         |  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws,
         |    COUNT(*) AS n
         |  FROM events GROUP BY 1
         |)
         |SELECT sk.ws, n, n_registers, t,
         |  ${Sketches.sqlHllEst} AS ndv_est
         |FROM sk JOIN cnt USING (ws)
         |ORDER BY ws""".stripMargin,
    "q_stream_window_append" -> hourlyTotalsSql,
    "q_stream_pipeline" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws, event_type,
        | COUNT(*) AS n,
        | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_stream_session_window" ->
      """WITH m AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |              OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM m
        |)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        | MIN(epoch_us(ts)) AS session_start_us, MAX(epoch_us(ts)) AS session_end_us
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    "q_stream_sessions" ->
      """WITH m AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |              OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM m
        |)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        | MIN(epoch_us(ts)) AS session_start_us, MAX(epoch_us(ts)) AS session_end_us
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin)
}
