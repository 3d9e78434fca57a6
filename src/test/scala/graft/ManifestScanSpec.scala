package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

import graft.table._

/** The manifest-planned scan: data files are read on the driver (a group
  * within the leaf bound) or through a [[ManifestFileIndex]] over the
  * planned entries, and delete files with the schemas the format fixes,
  * so building a scan starts no Spark job (no listing, no schema
  * inference) and the per-file constants need no join. A delete set
  * within Spark's broadcast bound applies as one filter above the leaf;
  * beyond it, as anti-joins Spark plans. */
class ManifestScanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def tmp(): String = Scratch.dir("graft-mscan").resolve("t").toString

  private def dataEntries(t: GraftTable): Seq[FileMeta] =
    Meta.readEntries(t.location, t.meta.head("main").get).filter(_.fileType == "data")

  private def entryPath(t: GraftTable, e: FileMeta): String =
    if (e.path.startsWith("/")) e.path else s"${t.location}/${e.path}"

  /** A bucketed table holding one posdel, one DV and one eqdel file. */
  private def morTable(): GraftTable = {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "k bigint, v string",
      partitionBy = Seq("bucket(4, k)"))
    t.append((0L until 200L).map(k => (k, s"v$k")).toDF("k", "v"))
    t.delete("k % 10 = 1", WriteMode.MergeOnRead)
    t.delete("k % 10 = 2", WriteMode.DeletionVector)
    t.deleteByKeys(Seq(13L, 25L).toDF("k"))
    val kinds = Meta.readEntries(t.location, t.meta.head("main").get)
      .groupBy(_.fileType).map { case (k, es) => k -> es.size }
    assert(kinds - "data" == Map("posdel" -> 1, "dv" -> 1, "eqdel" -> 1), s"$kinds")
    t
  }

  /** Every node of an executed plan, inside adaptive query stages too. */
  private def nodes(df: DataFrame): Seq[SparkPlan] =
    collect(df.queryExecution.executedPlan) { case p => p }

  private def keysOf(rows: Array[Row]): Seq[(Long, String)] =
    rows.map(r => (r.getLong(0), r.getString(1))).toSeq

  test("a point scan over posdel, DV and eqdel below the leaf bound builds and collects with 0 jobs") {
    val t = morTable()
    val (df, buildJobs) = jobsDuring(t.scan(filter = Some("k = 35")))
    assert(buildJobs == 0, "building the scan must not list files, infer schemas or read deletes")
    // the planned file is read on the driver and the deletes fold into
    // the local rows: collect runs no job
    val (rows, collectJobs) = jobsDuring(df.collect())
    val plan = df.queryExecution.executedPlan.treeString
    assert(collectJobs == 0, plan)
    assert(nodes(df).exists(_.isInstanceOf[LocalTableScanExec]), plan)
    assert(!nodes(df).exists(_.isInstanceOf[FileSourceScanExec]), plan)
    assert(keysOf(rows) == Seq((35L, "v35")))
    for (gone <- Seq(31L, 32L, 25L))
      assert(t.scan(filter = Some(s"k = $gone")).collect().isEmpty, s"k=$gone")
  }

  test("a point scan over posdel, DV and eqdel builds with 0 jobs and collects with 1") {
    val t = morTable()
    withSparkLeaf {
      val (df, buildJobs) = jobsDuring(t.scan(filter = Some("k = 35")))
      assert(buildJobs == 0, "building the scan must not list files, infer schemas or read deletes")
      // the deletes are one filter in the scan stage: no broadcast job
      val (rows, collectJobs) = jobsDuring(df.collect())
      val plan = df.queryExecution.executedPlan.treeString
      assert(collectJobs == 1, plan)
      assert(nodes(df).exists(_.isInstanceOf[FileSourceScanExec]), plan)
      assert(!nodes(df).exists(_.isInstanceOf[BroadcastExchangeExec]), plan)
      assert(keysOf(rows) == Seq((35L, "v35")))
      for (gone <- Seq(31L, 32L, 25L))
        assert(t.scan(filter = Some(s"k = $gone")).collect().isEmpty, s"k=$gone")
    }
  }

  test("the leaf rule: a group within one reader batch and the broadcast bound runs 0 jobs; past either, 1") {
    import spark.implicits._
    val batch = spark.sessionState.conf.parquetVectorizedReaderBatchSize
    def oneFile(n: Int): GraftTable = {
      val t = GraftTable.create(spark, tmp(), "k bigint, v string")
      t.append((0L until n.toLong).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1))
      assert(dataEntries(t).map(_.rowCount) == Seq(n.toLong))
      t
    }
    def lookup(t: GraftTable): (Int, Seq[SparkPlan]) = {
      val df = t.scan(filter = Some("k = 35"))
      val (rows, jobs) = jobsDuring(df.collect())
      assert(keysOf(rows) == Seq((35L, "v35")))
      (jobs, nodes(df))
    }
    def onDriver(t: GraftTable): Unit = {
      val (jobs, plan) = lookup(t)
      assert(jobs == 0 && !plan.exists(_.isInstanceOf[FileSourceScanExec]), plan.head.treeString)
    }
    def onSpark(t: GraftTable): Unit = {
      val (jobs, plan) = lookup(t)
      assert(jobs == 1 && plan.exists(_.isInstanceOf[FileSourceScanExec]), plan.head.treeString)
    }
    val fits = oneFile(batch)
    onDriver(fits)
    onSpark(oneFile(batch + 1))
    // the planned bytes against Spark's broadcast bound
    val bytes = dataEntries(fits).map(_.sizeBytes).sum
    withBroadcastBound(bytes)(onDriver(fits))
    withBroadcastBound(bytes - 1)(onSpark(fits))
    withBroadcastBound(-1)(onSpark(fits))
  }

  test("with the broadcast bound off, the same scan plans shuffled anti-joins and returns the same rows") {
    val t = morTable()
    val want = keysOf(t.scan().collect()).sorted
    assert(want.size == 200 - 20 - 20 - 2)
    withJoinDeletes {
      val point = t.scan(filter = Some("k = 35"))
      assert(keysOf(point.collect()) == Seq((35L, "v35")))
      val all = t.scan()
      assert(keysOf(all.collect()).sorted == want)
      val plan = all.queryExecution.executedPlan.treeString
      val antis = nodes(all).collect { case j: SortMergeJoinExec if j.joinType == LeftAnti => j }
      assert(antis.size == 2, plan)
      assert(!nodes(all).exists(_.isInstanceOf[BroadcastExchangeExec]), plan)
    }
  }

  test("a 40-file scan builds with 0 jobs (no listing job past 32 paths)") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "k bigint, p bigint",
      partitionBy = Seq("p"))
    t.append((0L until 400L).map(k => (k, k % 40)).toDF("k", "p").coalesce(1))
    assert(dataEntries(t).size == 40)
    val (df, buildJobs) = jobsDuring(t.scan())
    assert(buildJobs == 0)
    assert(df.count() == 400)
  }

  test("withPos _gf is the raw manifest path, even for a space, '%' and '+' in a partition value") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "k bigint, tag string",
      partitionBy = Seq("tag"))
    t.append(Seq((1L, "a b%c+d"), (2L, "a b%c+d"), (3L, "plain")).toDF("k", "tag"))
    val want = dataEntries(t).map(entryPath(t, _)).toSet
    assert(want.exists(p => p.contains(" ") && p.contains("%") && p.contains("+")), s"$want")
    val got = t.scan(withPos = true).select("_gf").distinct().collect()
      .map(_.getString(0)).toSet
    assert(got == want)
    // `_gf` is a partition column of the scan: a filter on it reaches the
    // index as a partition filter, which Spark does not re-apply
    val weird = want.find(_.contains("%")).get
    val onWeird = t.scan(withPos = true).filter(org.apache.spark.sql.functions.col("_gf") === weird)
    assert(onWeird.select("k").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // delete rows persist `_gf` as their target, so they must apply here
    t.delete("k = 1", WriteMode.MergeOnRead)
    t.delete("k = 3", WriteMode.DeletionVector)
    assert(t.scan().select("k").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("a fresh scan of the same files plans over the cached scan") {
    import spark.implicits._
    val t = GraftTable.create(spark, tmp(), "k bigint, v string")
    t.append((0L until 50L).map(k => (k, s"v$k")).toDF("k", "v"))
    t.delete("k % 7 = 0", WriteMode.DeletionVector)
    val cached = t.scan().cache()
    try {
      val plan = t.scan().queryExecution.withCachedData
      assert(plan.collectFirst { case r: InMemoryRelation => r }.isDefined, plan.treeString)
    } finally cached.unpersist(blocking = true)
  }

  test("data entries record the file's length, from every writer") {
    import spark.implicits._
    val loc = tmp()
    val t = GraftTable.create(spark, loc, "id bigint, status string, total double")
    def rows(ids: Long*) = ids.map(i => (i, s"s$i", i.toDouble)).toDF("id", "status", "total")
    t.append(rows(1L, 2L, 3L))
    t.append(rows(4L, 5L))
    t.update("id = 2", Map("total" -> "total + 1"))               // CoW rewrite
    t.compact(targetMB = 1)                                        // compaction
    assert(graft.ops.Interop.runExtWriter(loc, Seq((6L, "e", 6.0))) == 0)
    val ext = Scratch.dir("graft-mscan-import").toString
    rows(7L, 8L).coalesce(1).write.mode("overwrite").parquet(ext)
    val t2 = GraftTable.load(spark, loc)
    t2.addFiles(ext)
    val es = dataEntries(t2)
    assert(es.exists(_.nameMapped), "add_files entry missing")
    assert(es.exists(_.path.contains("-ext")), "extwriter entry missing")
    for (e <- es) {
      val p = entryPath(t2, e)
      assert(e.sizeBytes == Files.size(Paths.get(p)), s"$p: sizeBytes ${e.sizeBytes}")
    }
    assert(t2.scan().count() == 8)
  }

  test("a data entry whose sizeBytes is not positive is rejected, naming its path") {
    import spark.implicits._
    val loc = tmp()
    val t = GraftTable.create(spark, loc, "id bigint, status string, total double")
    t.append(Seq((1L, "a", 1.0)).toDF("id", "status", "total"))
    // an external commit this JVM has never read, so no cached parse
    assert(graft.ops.Interop.runExtWriter(loc, Seq((2L, "b", 2.0))) == 0)
    val fresh = GraftTable.load(spark, loc)
    val head = fresh.meta.head("main").get
    val seg = head.manifests.map(s => Paths.get(loc, s))
      .find(p => Files.readString(p).contains("-ext")).get
    Files.writeString(seg,
      Files.readString(seg).replaceAll("\"sizeBytes\":\\s*\\d+", "\"sizeBytes\": 0"))
    val bad = dataEntries(fresh).find(_.path.contains("-ext")).get
    assert(bad.sizeBytes == 0)
    val err = intercept[IllegalArgumentException](fresh.scan())
    assert(err.getMessage.contains(entryPath(fresh, bad)), err.getMessage)
  }
}
