package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Falsifies the "stream-stream join state is O(rate × window), not
  * O(stream)" claim made in StreamingOps/PLANS.md: drive a watermarked
  * interval join over input spanning many hours in several micro-batches
  * and read the state-store metrics back from the query progress. If
  * watermark eviction ever regressed (watermark not propagated, join
  * condition no longer bounding both sides), state would grow to the
  * full stream size and this spec fails — long before an unbounded
  * production stream would OOM an executor. */
class StreamingStateSpec extends SparkSpec {

  test("watermark evicts stream-stream join state across micro-batches") {
    val tmp = Scratch.dir("graft-sstate").toString
    import spark.implicits._

    // 2000 events over ~16h: click at t, matching-user purchase 30s later
    val epochUs = 1700000000000000L
    val rows = (0 until 2000).map { i =>
      val kind = if (i % 2 == 0) "click" else "purchase"
      (i.toLong, kind, (i / 2 % 20).toLong, epochUs + i.toLong * 30000000L)
    }
    val maxUs = rows.map(_._4).max
    val sent = Seq((-1L, "click", -1L, maxUs + 10800000000L),
      (-1L, "purchase", -1L, maxUs + 10800000000L))
    val df = (rows ++ sent).toDF("event_id", "event_type", "user_id", "us")
      .select(col("event_id"), col("event_type"), col("user_id"),
        timestamp_micros(col("us")).as("ts"))
    // range-partition by time so micro-batches arrive chronologically
    // (file source orders same-mtime files by path = range order); a
    // random shuffle would make later batches late-arrive behind the
    // advanced watermark and correctly drop their rows
    df.repartitionByRange(8, col("us")).write.parquet(s"$tmp/in")

    val stream = spark.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", 2).parquet(s"$tmp/in")
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
        col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))

    val q = joined.writeStream.format("memory").queryName("sstate")
      .outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val states = q.recentProgress.toSeq
      .filter(_.stateOperators.nonEmpty)
      .map(_.stateOperators.map(_.numRowsTotal).sum)
    val removed = q.recentProgress.toSeq
      .flatMap(_.stateOperators.map(_.numRowsRemoved)).sum
    assert(states.nonEmpty, "no state metrics reported")

    // every pair joined (correctness of the run itself): users recur every
    // 20 min, so each click also matches the NEXT purchase of its user at
    // +20.5 min (inside the 30-min window) — 980 clicks × 2 + 20 × 1
    assert(spark.table("sstate").filter(col("c_user") >= 0).count() == 1980)
    // eviction happened DURING the run, not only at the end. The exact
    // count jitters by a few rows with micro-batch file grouping (observed
    // 1499 vs 1500 across otherwise-identical runs): a row landing just
    // before vs just after a batch boundary is evicted in the NEXT batch,
    // which may be the final one whose removal isn't re-counted. The claim
    // is "the bulk of the stream was evicted mid-run", so assert that.
    assert(removed >= 1400,
      s"watermark evicted only $removed of 2000 buffered rows")
    // final state is a fraction of the stream: only rows younger than the
    // last watermark (plus the 2 sentinels) may remain buffered
    assert(states.last <= 300,
      s"final state ${states.last} rows — eviction regressed (peak ${states.max})")
    // and the peak never approached the full stream either
    assert(states.max < 1800,
      s"state peaked at ${states.max} of 2000 — watermark not bounding the join")
  }

  test("memory sinks drain: no temp tables or query handles survive a streaming query") {
    // the round-11 leak fix: a streaming query must leave NOTHING pinned
    // in the session — no sink temp view, no terminated-query handle —
    // while its returned (checkpointed) result stays fully readable.
    // Pre-fix, a 223-query × 7-round bench JVM accumulated 100+ pinned
    // sinks and q_stream_topk inflated 27% by round 7 on JVM age alone.
    val before = spark.catalog.listTables().filter(col("isTemporary")).count()
    val out = graft.ops.StreamingOps.queries("q_stream_window")(
      spark, "/root/testdata/sf0.001")
    val n = out.count()
    assert(n > 0, "streaming result must be non-empty")
    val after = spark.catalog.listTables().filter(col("isTemporary")).count()
    assert(after == before,
      s"temp tables leaked: $before before, $after after")
    assert(spark.streams.active.isEmpty, "no active streaming queries may remain")
    // the drained result is re-readable (checkpointed, not sink-backed)
    assert(out.count() == n)
  }
}
