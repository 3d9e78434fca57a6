package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.table._

/** The data-file write path's Spark work per commit:
  *  1. a partitioned write shuffles its input by the partition columns only
  *     when that can cluster it: an input of one Spark partition already
  *     writes one file per partition tuple, in one job;
  *  2. every multi-partition input, a one-file input under a subquery
  *     (which the optimizer turns into a shuffled join), and the update,
  *     MERGE and compaction rewrites keep the exchange and still write one
  *     file per tuple;
  *  3. footer statistics read through one set of parquet read options
  *     equal the data they describe;
  *  4. a MERGE writes its rewritten and inserted rows in one write, with
  *     the lineage and change feed of two separate writes. */
class WritePathSpec extends SparkSpec {
  import spark.implicits._

  private val DayUs = 86400000000L
  private val Day0 = 1704067200000000L // 2024-01-01T00:00:00Z

  private def tmp(): String = Files.createTempDirectory("graft-writepath").toString

  private def mk(loc: String): GraftTable =
    GraftTable.create(spark, s"$loc/t", "id bigint, ts timestamp, v string",
      partitionBy = Seq("day(ts)"))

  /** rows `ids` spread over three days, one `day(ts)` tuple per id mod 3 */
  private def events(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, Day0 + (i % 3) * DayUs + i, s"v$i")).toDF("id", "ts_us", "v")
      .select(col("id"), timestamp_micros(col("ts_us")).as("ts"), col("v"))

  /** `df` written as ONE parquet file and read back: a one-partition input */
  private def oneFile(df: DataFrame): DataFrame = {
    val dir = s"${tmp()}/batch"
    df.coalesce(1).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def dataEntries(t: GraftTable, snap: SnapshotMeta): Seq[FileMeta] =
    Meta.readEntries(t.location, snap).filter(_.fileType == "data")

  /** write plans that hash-shuffle on the `_p_*` partition columns */
  private def partitionExchanges(plans: Seq[SparkPlan]): Seq[ShuffleExchangeExec] =
    plans.filter(_.toString.contains("InsertIntoHadoopFsRelationCommand")).flatMap(_.collect {
      case e: ShuffleExchangeExec if (e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.exists(_.references.exists(_.name.startsWith("_p_")))
        case _ => false
      }) => e
    })

  test("a one-file append to a day(ts) table runs one Spark job, one file per day") {
    val t = mk(tmp())
    val batch = oneFile(events(0L until 30L))
    val (snap, jobs) = jobsDuring(t.append(batch))
    assert(jobs == 1, s"a one-partition append must be one write job, ran $jobs")
    val files = dataEntries(t, snap)
    assert(files.size == 3 && files.map(_.partition).distinct.size == 3,
      s"one file per day: ${files.map(f => f.partition -> f.path)}")
    assert(files.map(_.rowCount).sum == 30L)
    assert(t.scan().orderBy("id").as[(Long, java.sql.Timestamp, String)].collect().toSeq ==
      batch.orderBy("id").as[(Long, java.sql.Timestamp, String)].collect().toSeq)
  }

  test("a 4-partition input spanning 3 days still writes one file per day") {
    val t = mk(tmp())
    val dir = s"${tmp()}/batch"
    (0L until 4L).foreach(i =>
      events((i * 30L) until (i * 30L + 30L)).coalesce(1).write.mode("append").parquet(dir))
    val batch = spark.read.parquet(dir)
    assert(batch.rdd.getNumPartitions == 4, "the input must arrive in 4 partitions")
    val plans = executedDuring(t.append(batch))
    assert(partitionExchanges(plans).nonEmpty, s"the exchange must stay:\n${plans.mkString("\n")}")
    val files = t.liveFiles().filter(_.fileType == "data")
    assert(files.size == 3 && files.map(_.partition).distinct.size == 3,
      s"each day's rows from all 4 inputs land in one file: ${files.map(_.path)}")
    assert(t.scan().count() == 120L)
  }

  /** `body` with broadcast joins and adaptive partition coalescing off, so
    * a join shuffles its input into `spark.sql.shuffle.partitions` (4) */
  private def withShuffledJoins[T](body: => T): T = {
    val set = Seq("spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "4")
    val prev = set.map { case (k, _) => k -> spark.conf.getOption(k) }
    set.foreach { case (k, v) => spark.conf.set(k, v) }
    try withBroadcastBound(-1)(body)
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("a one-file input under an IN subquery keeps the exchange, one file per day") {
    oneFile(events(0L until 60L)).createOrReplaceTempView("write_path_keys")
    val inKeys = "id IN (SELECT id FROM write_path_keys WHERE id % 2 = 0)"
    try withShuffledJoins {
      Seq[(String, DataFrame => DataFrame)](
        "filter" -> (_.where(inKeys)),
        "projection" -> (_.withColumn("v", when(expr(inKeys), lit("even")).otherwise(col("v"))))
      ).foreach { case (shape, of) =>
        val t = mk(tmp())
        val batch = of(oneFile(events(0L until 30L)))
        val plans = executedDuring(t.append(batch))
        assert(partitionExchanges(plans).nonEmpty,
          s"a $shape subquery must keep the exchange:\n${plans.mkString("\n")}")
        val files = t.liveFiles().filter(_.fileType == "data")
        assert(files.size == 3 && files.map(_.partition).distinct.size == 3,
          s"a $shape subquery still writes one file per day: ${files.map(_.path)}")
        assert(t.scan().orderBy("id").as[(Long, java.sql.Timestamp, String)].collect().toSeq ==
          batch.orderBy("id").as[(Long, java.sql.Timestamp, String)].collect().toSeq, shape)
      }
    } finally { spark.catalog.dropTempView("write_path_keys"); () }
  }

  test("update, MERGE and compactSmallFiles keep their partition exchange") {
    val t = mk(tmp())
    t.append(oneFile(events(0L until 30L)))
    t.append(oneFile(events(30L until 60L)))
    val updates = Seq(WriteMode.CopyOnWrite, WriteMode.MergeOnRead).map(mode =>
      executedDuring(t.update("id % 5 = 0", Map("v" -> "concat(v, 'u')"), mode)))
    val merge = executedDuring(t.merge(events(Seq(1L, 2L, 90L)), "t.id = s.id",
      matchedSet = Map("v" -> "'m'"),
      insertValues = Some(Map("id" -> "s.id", "ts" -> "s.ts", "v" -> "s.v"))))
    val compact = executedDuring(t.compactSmallFiles())
    Seq("CoW update" -> updates(0), "MoR update" -> updates(1), "merge" -> merge,
        "compactSmallFiles" -> compact).foreach { case (op, plans) =>
      assert(partitionExchanges(plans).nonEmpty,
        s"$op must keep its exchange:\n${plans.mkString("\n")}")
    }
    val files = t.liveFiles().filter(_.fileType == "data")
    assert(files.size == 3 && files.map(_.partition).distinct.size == 3,
      s"compaction leaves one file per day: ${files.map(_.path)}")
    val rows = t.scan().as[(Long, java.sql.Timestamp, String)].collect().map(r => r._1 -> r._3).toMap
    assert(rows.size == 61)
    assert(rows(1L) == "m" && rows(90L) == "v90" && rows(10L) == "v10uu" && rows(11L) == "v11")
  }

  test("FooterStats.collect over a 16-file bucketed write equals the files' data") {
    val loc = tmp()
    val t = GraftTable.create(spark, s"$loc/t", "id bigint, v double, s string",
      partitionBy = Seq("bucket(16, id)"))
    val snap = t.append((0L until 2000L).map(i =>
      (i, if (i % 7 == 0) None else Some(i * 0.5), s"s${i % 97}")).toDF("id", "v", "s"))
    val entries = dataEntries(t, snap)
    assert(entries.size == 16 && entries.map(_.partition).distinct.size == 16)
    val abs = entries.map(e => e -> Paths.get(t.location, e.path).toString)
    val expected = spark.read.parquet(abs.map(_._2): _*)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)), min("f1"), max("f1"), min("f2"), max("f2"),
        count(when(col("f2").isNull, 1)), min("f3"), max("f3"))
      .collect().map(r => Paths.get(new java.net.URI(r.getString(0))).toString -> r).toMap
    abs.foreach { case (e, path) =>
      val r = expected(path)
      assert(e.rowCount == r.getLong(1) && e.sizeBytes == Files.size(Paths.get(path)), e.path)
      assert(e.stats == Map(
        "1" -> ColStats(Some(r.getLong(2).toString), Some(r.getLong(3).toString), 0L),
        "2" -> ColStats(Some(r.getDouble(4).toString), Some(r.getDouble(5).toString), r.getLong(6)),
        "3" -> ColStats(Some(r.getString(7)), Some(r.getString(8)), 0L)), e.path)
    }
    assert(entries.map(_.rowCount).sum == 2000L)
  }

  test("a MERGE with matched and inserted rows commits one write's files; lineage and changes agree") {
    val t = mk(tmp())
    val s0 = t.append(oneFile(events(0L until 30L)))
    val src = events(Seq(3L, 4L, 31L, 32L)).withColumn("v", concat(col("v"), lit("m")))
    val s1 = t.merge(src, "t.id = s.id", matchedSet = Map("v" -> "s.v"),
      insertValues = Some(Map("id" -> "s.id", "ts" -> "s.ts", "v" -> "s.v")))
    val before = dataEntries(t, s0).map(_.path).toSet
    val added = dataEntries(t, s1).filterNot(e => before(e.path))
    assert(added.map(_.path.split('/')(1)).distinct.size == 1,
      s"rewritten and inserted rows must come from one write: ${added.map(_.path)}")
    // the rewrite touched days 0 and 1 (ids 3, 4) and the inserts days 1
    // and 2 (ids 31, 32): one file per touched day holds both kinds
    assert(added.size == 3 && added.map(_.partition).distinct.size == 3)

    val lineage = t.scan(withLineage = true)
      .select(col("id"), col("v"), col("_row_id"), col("_last_updated_sequence_number"))
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(lineage.size == 32 && lineage.map(_._3).distinct.size == 32, "row ids stay unique")
    val seqOf = lineage.map(r => r._1 -> r._4).toMap
    assert(Seq(3L, 4L, 31L, 32L).forall(seqOf(_) == s1.sequenceNumber))
    assert(seqOf(0L) == s0.sequenceNumber && seqOf(5L) == s0.sequenceNumber)
    val ridAt0 = t.scan(withLineage = true, snapshotId = Some(s0.snapshotId))
      .select("id", "_row_id").as[(Long, Long)].collect().toMap
    val ridAt1 = lineage.map(r => r._1 -> r._3).toMap
    assert(ridAt0.forall { case (id, rid) => ridAt1(id) == rid }, "updated rows keep their row ids")

    val changes = t.changes(s0.snapshotId)
      .select(col("_change_type"), col("id"), col("v"), col("_commit_seq"))
      .as[(String, Long, String, Long)].collect().toSeq.sortBy(c => (c._2, c._1))
    val s = s1.sequenceNumber
    assert(changes == Seq(
      ("update_after", 3L, "v3m", s), ("update_before", 3L, "v3", s),
      ("update_after", 4L, "v4m", s), ("update_before", 4L, "v4", s),
      ("insert", 31L, "v31m", s), ("insert", 32L, "v32m", s)), changes)

    val native = t.scan().select("id", "v").as[(Long, String)].collect().sorted.toSeq
    val py = spark.read.parquet(graft.ops.Interop.runExtReader(t.location))
      .select("id", "v").as[(Long, String)].collect().sorted.toSeq
    assert(py == native, "the independent reader must resolve the mixed-lineage files alike")
  }
}
