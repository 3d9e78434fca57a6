package graft

import java.util.UUID

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.table.GraftTable

/** Checkpoint-restart guarantees of the graft streaming tail — the
  * production property none of the single-run streaming queries pin: a
  * stopped query restarted on the SAME checkpoint must resume from its
  * committed offsets (each appended file emitted exactly once across
  * runs) and stateful aggregations must carry their state store forward
  * (counts over pre-restart data survive). */
class StreamingRestartSpec extends SparkSpec {
  import spark.implicits._

  test("tail resumes from committed offsets: exactly-once across restarts") {
    val tmp = Scratch.dir("graft-restart").toString
    val a = GraftTable.create(spark, s"$tmp/a", "k bigint, v double")
    a.append((1L to 100L).map(k => (k, k * 1.0)).toDF("k", "v"))

    val seen = ArrayBuffer.empty[Long]
    def runOnce(): Seq[Long] = {
      val batchKeys = ArrayBuffer.empty[Long]
      val q = a.readStream(maxFilesPerTrigger = Some(2)).writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batchKeys ++= batch.select("k").collect().map(_.getLong(0)); ()
        }
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      batchKeys.toSeq
    }

    val run1 = runOnce()
    assert(run1.sorted == (1L to 100L), s"run1 saw ${run1.size} rows")
    seen ++= run1

    a.append((101L to 150L).map(k => (k, k * 1.0)).toDF("k", "v"))
    val run2 = runOnce()
    // ONLY the new commit's rows — nothing re-emitted, nothing lost
    assert(run2.sorted == (101L to 150L),
      s"run2 must emit exactly the post-restart commit, saw ${run2.size} rows " +
        s"(min ${run2.minOption}, max ${run2.maxOption})")
    seen ++= run2

    val run3 = runOnce() // no new data: zero rows, clean termination
    assert(run3.isEmpty, s"run3 re-emitted ${run3.size} rows")
    assert(seen.sorted == (1L to 150L))
  }

  test("CDC stream resumes from committed versions: exactly-once across restarts") {
    val tmp = Scratch.dir("graft-cdcrestart").toString
    val loc = s"$tmp/tbl"
    val t = GraftTable.create(spark, loc, "id bigint, status string, total double")
    val out = GraftTable.create(spark, s"$tmp/out",
      "id bigint, status string, total double, change_type string, commit_seq bigint")
    def changeRows(): Set[(Long, String, Double)] =
      out.scan().select("id", "change_type", "total").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

    t.append(Seq((1L, "A", 10.0), (2L, "B", 20.0), (3L, "A", 30.0))
      .toDF("id", "status", "total"))
    graft.ops.StreamingOps.runCdcPump(spark, loc, out, s"$tmp/ckpt")
    val run1 = changeRows()
    assert(run1 == Set((1L, "insert", 10.0), (2L, "insert", 20.0),
      (3L, "insert", 30.0)), s"run1: $run1")

    // between runs: a MoR delete and a MoR update commit two new versions
    GraftTable.load(spark, loc).delete("id = 2",
      graft.table.WriteMode.MergeOnRead)
    GraftTable.load(spark, loc).update("id = 3",
      Map("total" -> "total + 5.0"), graft.table.WriteMode.MergeOnRead)
    graft.ops.StreamingOps.runCdcPump(spark, loc, out, s"$tmp/ckpt")
    val run2 = changeRows() -- run1
    // ONLY the post-restart versions' deltas — nothing re-emitted
    assert(run2 == Set((2L, "delete", 20.0), (3L, "update_before", 30.0),
      (3L, "update_after", 35.0)), s"run2 delta: $run2")

    // no new versions: a third run must emit nothing
    val before3 = out.scan().count()
    graft.ops.StreamingOps.runCdcPump(spark, loc, out, s"$tmp/ckpt")
    assert(out.scan().count() == before3, "run3 re-emitted rows")

    // crash-replay: foreachBatch is at-least-once — a failure between the
    // sink append and the offset commit redelivers the window. Simulate
    // total redelivery with a FRESH checkpoint (every version replays);
    // the sink's commit_seq watermark must make every window a no-op.
    graft.ops.StreamingOps.runCdcPump(spark, loc, out, s"$tmp/ckpt-replay")
    assert(changeRows() == run1 ++ run2 && out.scan().count() == before3,
      "replayed windows must not duplicate change rows")
  }

  test("in-job post-commit compaction: op log interleaves with the stream, data intact") {
    val tmp = Scratch.dir("graft-sc").toString
    val a = GraftTable.create(spark, s"$tmp/a", "k bigint, v double")
    (0 until 4).foreach(i => a.append(Seq((i.toLong, i * 1.0)).toDF("k", "v")))
    GraftTable.create(spark, s"$tmp/b", "k bigint, v double")
    var commits = 0
    val q = a.readStream(maxFilesPerTrigger = Some(1)).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val sink = GraftTable.load(spark, s"$tmp/b")
        sink.append(batch)
        commits += 1
        if (commits % 2 == 0) sink.compact(targetMB = 1)
        ()
      }
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val fin = GraftTable.load(spark, s"$tmp/b")
    val ops = fin.meta.snapshots.map(_.operation)
    assert(ops == Seq("append", "append", "replace", "append", "append", "replace"),
      s"maintenance must interleave with the stream: $ops")
    assert(fin.scan().select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L to 3L), "every streamed row survives the interleaved rewrites")
    assert(fin.liveFiles().count(_.fileType == "data") == 1,
      "the final replace bin-packed the small files")
  }

  test("stateful aggregation state survives a checkpoint restart") {
    val tmp = Scratch.dir("graft-restate").toString
    val a = GraftTable.create(spark, s"$tmp/a", "k bigint, v double")
    a.append((1L to 100L).map(k => (k, k * 1.0)).toDF("k", "v"))
    val name = s"rs_${UUID.randomUUID.toString.replace("-", "")}"

    def runOnce(): Unit = {
      val q = a.readStream(maxFilesPerTrigger = Some(2))
        .groupBy((col("k") % 10).as("g"))
        .agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    runOnce()
    a.append((101L to 150L).map(k => (k, k * 1.0)).toDF("k", "v"))
    runOnce()
    // complete-mode output after the restarted run covers ALL 150 rows
    // only if the state store restored the first run's counts — a state
    // loss would leave exactly the 50 post-restart rows
    val counts = spark.table(name).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (1L to 150L).groupBy(_ % 10).view.mapValues(_.size.toLong).toMap
    assert(counts == expected,
      s"restart lost aggregation state: got $counts")
  }
}
