package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.table._

/** Merge-on-read edge cases, each read through both delete paths: the
  * filter the driver builds from the decoded delete files (the default,
  * over the driver leaf and over the Spark leaf) and the anti-joins used
  * beyond Spark's broadcast bound (bound off, so the Spark leaf).
  * Equality deletes match keys with `<=>`: null matches null, NaN
  * matches NaN, -0.0 matches 0.0, and a delete removes only rows older
  * than itself. */
class MorDeleteSpec extends SparkSpec {

  private def tmp(): String =
    Scratch.dir("graft-mordel").resolve("t").toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map {
      case b: Array[Byte] => b.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  /** Did this scan apply its deletes as the driver-built filter (else as
    * anti-joins)? It must be one or the other. The analyzed plan shows the
    * choice on either leaf (the optimizer folds a filter over the driver
    * leaf into its rows). */
  private def viaFilter(df: DataFrame): Boolean = {
    val plan = df.queryExecution.analyzed.treeString
    assert(plan.contains("deleted(") != plan.contains("LeftAnti"), plan)
    plan.contains("deleted(")
  }

  /** The head scan must equal `want` through both paths, the filter path
    * on both leaves, and each path must be the one it claims: a filter
    * with no join, or anti-joins. */
  private def check(t: GraftTable, want: Seq[String]): Unit = {
    for ((leaf, read) <- Seq("driver" -> (() => t.scan()),
        "spark" -> (() => withSparkLeaf(t.scan())))) {
      val filtered = read()
      assert(viaFilter(filtered), leaf)
      assert(!filtered.queryExecution.optimizedPlan.treeString.contains("Join"), leaf)
      assert(rows(filtered) == want.sorted, s"filter path, $leaf leaf")
    }
    withJoinDeletes {
      val joined = t.scan()
      assert(!viaFilter(joined))
      assert(rows(joined) == want.sorted, "anti-join path")
    }
  }

  test("a null equality key deletes the rows whose key is null") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "k bigint, v string")
    t.append(Seq[(Option[Long], String)]((Some(1L), "a"), (None, "b"), (Some(2L), "c"), (None, "d"))
      .toDF("k", "v"))
    t.deleteByKeys(Seq[Option[Long]](None).toDF("k"))
    check(t, Seq("1|a", "2|c"))
  }

  test("a NaN equality key deletes the NaN rows") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "d double, v string")
    t.append(Seq((Double.NaN, "a"), (1.5, "b"), (Double.NaN, "c")).toDF("d", "v"))
    t.deleteByKeys(Seq(Double.NaN).toDF("d"))
    check(t, Seq("1.5|b"))
  }

  test("-0.0 and 0.0 are one equality key") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "d double, v string")
    t.append(Seq((0.0, "a"), (-0.0, "b"), (2.0, "c"), (-0.0, "d")).toDF("d", "v"))
    t.deleteByKeys(Seq(-0.0).toDF("d"))
    check(t, Seq("2.0|c"))
    t.append(Seq((0.0, "e"), (-0.0, "f")).toDF("d", "v"))
    t.deleteByKeys(Seq(0.0).toDF("d"))
    check(t, Seq("2.0|c"))
  }

  test("a two-column key with one null component matches only that tuple") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "a bigint, b string, v string")
    t.append(Seq[(Option[Long], Option[String], String)](
      (Some(1L), None, "x"), (Some(1L), Some("p"), "y"), (None, None, "z"),
      (Some(2L), None, "w")).toDF("a", "b", "v"))
    t.deleteByKeys(Seq[(Option[Long], Option[String])]((Some(1L), None)).toDF("a", "b"))
    check(t, Seq("1|p|y", "null|null|z", "2|null|w"))
  }

  test("a key written as int still deletes after the column is promoted to bigint") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "k int, v string")
    t.append(Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"))
    t.deleteByKeys(Seq(2).toDF("k"))
    t.promoteType("k", "bigint")
    assert(t.scan().schema("k").dataType == org.apache.spark.sql.types.LongType)
    t.append(Seq((2L, "d"), (4L, "e")).toDF("k", "v"))
    check(t, Seq("1|a", "3|c", "2|d", "4|e"))
  }

  test("NaN and -0.0 keys written as float still delete after the column is promoted to double") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "d float, v string")
    t.append(Seq((Float.NaN, "a"), (0.0f, "b"), (1.5f, "c")).toDF("d", "v"))
    t.deleteByKeys(Seq(Float.NaN, -0.0f).toDF("d"))
    t.promoteType("d", "double")
    check(t, Seq("1.5|c"))
  }

  test("a key re-inserted after its delete survives (sequence gating)") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "k bigint, v string")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    t.deleteByKeys(Seq(1L).toDF("k"))
    t.append(Seq((1L, "again")).toDF("k", "v"))
    check(t, Seq("1|again", "2|b"))
    t.deleteByKeys(Seq(1L).toDF("k"))
    check(t, Seq("2|b"))
  }

  test("binary equality keys compare by content and ship with the scan's tasks") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "k binary, n bigint, v string")
    t.append(Seq[(Array[Byte], Long, String)](
      (Array[Byte](1, 2), 1L, "a"), (Array[Byte](1, 2), 2L, "b"),
      (Array[Byte](3), 1L, "c"), (Array.emptyByteArray, 1L, "d"), (null, 1L, "e"))
      .toDF("k", "n", "v"))
    t.deleteByKeys(Seq(Array[Byte](1, 2)).toDF("k"))
    check(t, Seq("[3]|1|c", "[]|1|d", "null|1|e"))
    t.deleteByKeys(Seq[(Array[Byte], Long)]((Array[Byte](3), 1L), (null, 1L)).toDF("k", "n"))
    check(t, Seq("[]|1|d"))
  }

  test("a nested-type equality key applies through the anti-join at any bound") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "k struct<a:bigint,b:string>, v string")
    t.append(Seq(((1L, "x"), "a"), ((1L, "y"), "b")).toDF("k", "v"))
    t.deleteByKeys(Seq(Tuple1((1L, "x"))).toDF("k"))
    val df = t.scan()
    assert(!viaFilter(df))
    assert(rows(df.select(col("k.b"), col("v"))) == Seq("y|b"))
  }

  test("position and vector files are sized against the snapshot's data files, not the planned ones") {
    import spark.implicits._
    // a DV on a 20000-row file decodes to ~2.5 KB whatever the scan plans;
    // a scan pruned to the 1-row file (its segment skipped) must not size
    // that vector by the 1-row file
    val t = GraftTable.create(spark, tmp(), "k bigint, p string", partitionBy = Seq("p"))
    t.append(spark.range(0, 20000).coalesce(1).select(col("id").as("k"), lit("big").as("p")))
    t.append(Seq((100000L, "small"), (100001L, "small")).toDF("k", "p"))
    t.delete("k = 5 OR k = 100001", WriteMode.DeletionVector)
    val pruned = () => t.scan(filter = Some("p = 'small'"))
    withBroadcastBound(1000) {
      val df = pruned()
      assert(!viaFilter(df))
      assert(rows(df) == Seq("100000|small"))
    }
    withBroadcastBound(8000) {
      val df = pruned()
      assert(viaFilter(df))
      assert(rows(df) == Seq("100000|small"))
    }
  }

  test("string equality keys are sized by the delete file's bytes on disk") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "k string, v string")
    t.append(Seq(("a", "1"), ("b", "2"), ("c", "3")).toDF("k", "v"))
    t.deleteByKeys(Seq("a", "b").toDF("k"))
    val entry = t.liveFiles().find(_.fileType == "eqdel").get
    val onDisk = Paths.get(t.location, entry.path).toFile.listFiles().toSeq
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    assert(entry.sizeBytes == onDisk && onDisk > 0, s"${entry.sizeBytes} vs $onDisk")
    val estimate = 2 * (16L + 32L) + onDisk
    withBroadcastBound(estimate - 1)(assert(!viaFilter(t.scan())))
    withBroadcastBound(estimate) {
      val df = t.scan()
      assert(viaFilter(df))
      assert(rows(df) == Seq("c|3"))
    }
  }

  test("a position delete applies to a file whose path has a space, '%' and '+'") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "k bigint, tag string", partitionBy = Seq("tag"))
    t.append(Seq((1L, "a b%c+d"), (2L, "a b%c+d"), (3L, "plain")).toDF("k", "tag"))
    assert(t.liveFiles().exists(f => f.path.contains(" ") && f.path.contains("%") &&
      f.path.contains("+")))
    t.delete("k = 1", WriteMode.MergeOnRead)
    check(t, Seq("2|a b%c+d", "3|plain"))
    t.delete("k = 2", WriteMode.DeletionVector)
    check(t, Seq("3|plain"))
  }

  test("a delete entry whose directory holds no parquet part file fails the scan, naming it") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "k bigint, v string")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    t.delete("k = 1", WriteMode.MergeOnRead)
    val entry = t.liveFiles().find(_.fileType == "posdel").get
    val dir = Paths.get(t.location, entry.path).toAbsolutePath
    val ls = Files.list(dir)
    try ls.forEach(p => if (p.getFileName.toString.endsWith(".parquet")) Files.delete(p))
    finally ls.close()
    for (read <- Seq(() => t.scan(), () => withSparkLeaf(t.scan()),
        () => withJoinDeletes(t.scan()))) {
      val err = intercept[IllegalArgumentException](read().collect())
      assert(err.getMessage.contains(dir.toString), err.getMessage)
    }
  }
}
