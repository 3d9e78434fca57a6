package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.columnar.InMemoryRelation

import graft.table._

/** The manifest-planned scan: data files are read through a
  * [[ManifestFileIndex]] over the planned entries and delete files with
  * the schemas the format fixes, so building a scan starts no Spark job
  * (no listing, no schema inference) and the per-file constants need no
  * join. */
class ManifestScanSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-mscan").resolve("t").toString

  /** `body`'s result and the number of Spark jobs started while it ran. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try {
      val r = body
      ListenerBusDrain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }

  private def dataEntries(t: GraftTable): Seq[FileMeta] =
    Meta.readEntries(t.location, t.meta.head("main").get).filter(_.fileType == "data")

  private def entryPath(t: GraftTable, e: FileMeta): String =
    if (e.path.startsWith("/")) e.path else s"${t.location}/${e.path}"

  test("a point scan over posdel, DV and eqdel builds with 0 jobs and collects with 3") {
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

    val (df, buildJobs) = jobsDuring(t.scan(filter = Some("k = 35")))
    assert(buildJobs == 0, "building the scan must not list files or infer schemas")
    // one broadcast of the posdel+DV positions, one of the eqdel keys, the scan
    val (rows, collectJobs) = jobsDuring(df.collect())
    assert(collectJobs == 3, df.queryExecution.executedPlan.treeString)
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((35L, "v35")))
    for (gone <- Seq(31L, 32L, 25L))
      assert(t.scan(filter = Some(s"k = $gone")).collect().isEmpty, s"k=$gone")
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
    val ext = Files.createTempDirectory("graft-mscan-import").toString
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
